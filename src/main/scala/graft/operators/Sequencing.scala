package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.TextFns._

/** Sequence-shaping operators — the step between a cleaned corpus and a
  * training batch:
  *
  *  - [[packSequences]] (q46): assign documents to fixed-token-budget
  *    bins ("sequence packing") by running token count, per language
  *    shard. Packing is a prefix sum — inherently sequential — so the
  *    distributed form is TWO-LEVEL: cumsum within bounded (lang,
  *    doc_id-range) blocks, then add each block's exclusive prefix
  *    total (computed on the tiny one-row-per-block aggregate). No
  *    single task ever sorts more than `blockWidth` documents, so the
  *    plan survives a corpus where one language is half the data —
  *    the failure mode of the naive `partitionBy(lang)` window.
  *  - [[chunkTokens]] (q47): split each document into overlapping
  *    fixed-size token windows (context-window chunking for embedding /
  *    pretraining) — a narrow explode, scan-speed, the text analog of
  *    [[Multimodal.sampleFrames]].
  */
object Sequencing {

  val PackBudget = 512   // tokens per packed sequence bin
  val ChunkSize = 64     // tokens per chunk
  val ChunkStride = 48   // tokens between chunk starts (16-token overlap)

  /** Docs per packing block. Bounds every window-sort task to this many
    * rows regardless of language skew. The prefix relation is
    * n_docs/blockWidth rows (~24 B each): 10^11 docs → ~1.5M rows
    * ≈ 36 MB broadcast — within the default 8g-executor budget; raise
    * blockWidth to shrink it further at extreme doc counts. */
  val PackBlockWidth: Long = 65536L

  /** (doc_id, lang, n_tokens, seq_bin): documents assigned to
    * consecutive bins per language shard, in doc_id order (the arrival
    * order a streaming packer would see). seq_bin is the budget-
    * quantized START offset of the document in the shard's token
    * stream — so bins hold ~`budget` tokens of starts, and an
    * oversized document overflows the bin containing its start rather
    * than claiming one alone. Split oversized documents FIRST with
    * [[chunkTokens]] when strict per-bin token bounds matter.
    *
    * The blocked prefix sum is an exact reformulation: for any
    * `blockWidth`, `local_cum(doc) + blk_offset(block)` equals the
    * global per-lang cumsum, so the result is blockWidth-invariant
    * (property-tested in SequencingSpec). `doc_id div blockWidth` is
    * exact integer division (not a double quotient — inexact past 2^53
    * and boundary docs would silently change block), and is monotone in
    * doc_id, so (blk, doc_id) order == doc_id order.
    *
    * PRECONDITION for the size analysis above: doc_ids are DENSE
    * (roughly consecutive, as a corpus snapshot or `zipWithIndex`-style
    * assignment produces). With sparse/hashed doc_ids each block holds
    * ~1 doc and `offsets` degrades to corpus-sized — still CORRECT
    * (the join below is not forced to broadcast; AQE falls back to a
    * shuffled join), but the packing loses its "tiny prefix relation"
    * property. Re-key such a corpus first (e.g. a one-off
    * `row_number`-style dense id assignment) before packing. */
  def packSequences(docs: DataFrame, budget: Int = PackBudget,
      blockWidth: Long = PackBlockWidth,
      nTokens: Column = size(wsTokens(col("text"))).cast("long")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("lang"),
      nTokens.as("n_tokens"))
      .withColumn("blk", expr(s"cast(doc_id div $blockWidth as long)"))
    // level 1: cumsum within (lang, block) — each sort task bounded by
    // blockWidth rows, independent of how skewed the lang mix is
    val wLocal = Window.partitionBy(col("lang"), col("blk"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    // level 2: exclusive prefix of block totals within each lang. The
    // input here is the one-row-per-block AGGREGATE (n_docs/blockWidth
    // rows), so the lang-partitioned window is over a tiny relation —
    // this is the "driver-side prefix pass" done as a plan node.
    val wPrefix = Window.partitionBy(col("lang")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy(col("lang"), col("blk"))
      .agg(sum(col("n_tokens")).as("blk_tokens"))
      .withColumn("blk_offset",
        sum(col("blk_tokens")).over(wPrefix) - col("blk_tokens"))
      .select("lang", "blk", "blk_offset")
    // offsets is blockWidth× smaller than the doc-meta relation (36 MB
    // at 10^11 dense doc_ids / 64k width) and AQE promotes the join to
    // broadcast at runtime when it measures small. Deliberately NOT a
    // broadcast() hint: with sparse/hashed doc_ids offsets is corpus-
    // sized and a forced broadcast would OOM the driver — unhinted, the
    // planner keeps the shuffled-join escape hatch.
    local.join(offsets, Seq("lang", "blk"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"(local_cum + blk_offset - n_tokens) div $budget").as("seq_bin"))
  }

  /** (doc_id, chunk_id, chunk_len, chunk_hash): overlapping token
    * windows of `size` tokens every `stride` tokens. The hash stands in
    * for the chunk text in the compact output; windows short of `size`
    * at the document tail are kept (truncated slice). */
  def chunkTokens(docs: DataFrame, size: Int = ChunkSize,
      stride: Int = ChunkStride): DataFrame =
    docs
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(size(split(trim(text), '\\\\s+')) - 1, 0), $stride),
           |  s -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), s + 1, $size)))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        expr("cast(size(split(col, '\\\\s+')) as bigint)").as("chunk_len"),
        md5(col("col")).as("chunk_hash"))

  /** [[chunkTokens]] over an ARBITRARY token-array column (q65 feeds the
    * BPE token stream through it; q47's whitespace form keeps its
    * original inline split). Same shape — one narrow explode, no
    * shuffle — with chunk_len computed from the token SLICE itself, so
    * zero-token documents chunk to (chunk_id 0, len 0) instead of
    * re-splitting an empty string. */
  def chunkTokensOf(docs: DataFrame, tokens: Column, size: Int = ChunkSize,
      stride: Int = ChunkStride): DataFrame =
    docs
      .select(col("doc_id"), tokens.as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(size(toks) - 1, 0), $stride),
           |  s -> named_struct(
           |    'len', size(slice(toks, s + 1, $size)),
           |    'hash', md5(concat_ws(' ', slice(toks, s + 1, $size)))))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col.len").cast("long").as("chunk_len"),
        col("col.hash").as("chunk_hash"))

  // ---- SparkEntry wiring -------------------------------------------------

  def qPackSequences(s: SparkSession, d: String): DataFrame =
    packSequences(Tables.documents(s, d))

  val qPackSequencesSql: String =
    s"""SELECT doc_id, lang,
       |       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |       ((SUM(len(regexp_split_to_array(trim(text), '\\s+')))
       |           OVER (PARTITION BY lang ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |         - len(regexp_split_to_array(trim(text), '\\s+'))) // $PackBudget)::BIGINT AS seq_bin
       |FROM documents ORDER BY doc_id""".stripMargin

  def qChunkTokens(s: SparkSession, d: String): DataFrame =
    chunkTokens(Tables.documents(s, d))

  val qChunkTokensSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |           FROM documents),
       |c AS (
       |  SELECT doc_id, unnest(range(0, greatest(len(toks) - 1, 0) + 1, $ChunkStride)) AS s,
       |         toks
       |  FROM t)
       |SELECT doc_id,
       |       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_id,
       |       CAST(len(list_slice(toks, (s + 1)::INT, (s + $ChunkSize)::INT)) AS BIGINT) AS chunk_len,
       |       md5(array_to_string(list_slice(toks, (s + 1)::INT, (s + $ChunkSize)::INT), ' ')) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin
}
