package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.TextFns._

/** Corpus-statistics operators: vocabulary with document frequencies,
  * TF-IDF term ranking, and n-gram frequency tables — the counting side
  * of a training-data pipeline (vocab construction, term weighting,
  * n-gram LM statistics).
  *
  * Scale design (100 TB):
  *  - vocab/df (q39) is THE canonical wordcount: explode is narrow, the
  *    single shuffle carries partially-aggregated (token → counts) pairs,
  *    so stopword skew is absorbed map-side by the combiner, not by a
  *    hot reducer. count_distinct(doc_id) expands to Spark's standard
  *    two-phase distinct aggregation on the same key.
  *  - TF-IDF (q40) joins the big (doc, token, tf) relation to the
  *    per-token idf table with a SHUFFLE hash join on `token`: the idf
  *    side has one row per distinct token, and a web-scale corpus has
  *    10^8–10^9 of those (~tens of GB with strings) — far past any
  *    broadcast threshold (10^9 tokens × ~30 B ≈ 30 GB vs the 8 GB
  *    executor budget; even 10^7 tokens ≈ 300 MB is 30× the default
  *    10 MB autoBroadcast limit). Both sides arrive pre-aggregated on
  *    token-containing keys with map-side combine, so the shuffle keys
  *    are near-uniform; the remaining big shuffle is the per-doc top-k
  *    window, partitioned by doc_id.
  *  - bigrams (q41) is the same wordcount shape over 2-gram keys; global
  *    top-k is TakeOrderedAndProject (no global sort).
  */
object Vocab {

  /** (token, tf_total, df): corpus vocabulary with term + document
    * frequencies. */
  def vocabDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf_total"),
        countDistinct(col("doc_id")).as("df"))

  /** Top-`k` TF-IDF terms per document. idf = ln(N / df) over the same
    * vocab; values rounded to 6dp before ranking (cross-engine `ln`
    * parity), ties broken by token. */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val idf = vocabDf(docs).crossJoin(broadcast(n))
      .select(col("token"),
        round(log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("idf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    // vocab-sized build side: hint shuffle_hash so the plan stays a
    // shuffled join even where AQE would broadcast at toy scale
    tf.join(idf.hint("shuffle_hash"), "token")
      .select(col("doc_id"), col("token"), col("tf"),
        round(col("tf").cast("double") * col("idf"), 6).as("tfidf"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "token", "tf", "tfidf", "rnk")
  }

  /** Global top-`k` word bigrams by frequency (tie-broken by bigram).
    * Adjacent pairs come from zip_with(tokens, tail) — `sequence(1, n-1)`
    * would DESCEND for single-token docs ([1, 0]) and index out of
    * bounds, the classic empty-input sequence hazard. */
  def topBigrams(docs: DataFrame, k: Int = 20): DataFrame =
    docs.select(explode(expr(
      """zip_with(
        |  slice(split(trim(text), '\\s+'), 1, size(split(trim(text), '\\s+')) - 1),
        |  slice(split(trim(text), '\\s+'), 2, size(split(trim(text), '\\s+')) - 1),
        |  (a, b) -> concat(a, ' ', b))""".stripMargin))
      .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  // ---- SparkEntry wiring -------------------------------------------------

  def qVocabDf(s: SparkSession, d: String): DataFrame =
    vocabDf(Tables.documents(s, d))

  val qVocabDfSql: String =
    """SELECT tok AS token, COUNT(*) AS tf_total, COUNT(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |      FROM documents)
      |GROUP BY 1 ORDER BY token""".stripMargin

  def qTfidfTopK(s: SparkSession, d: String): DataFrame =
    tfidfTopK(Tables.documents(s, d))

  val qTfidfTopKSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |idf AS (SELECT token, ROUND(ln(n_docs::DOUBLE / df::DOUBLE), 6) AS idf
      |        FROM df CROSS JOIN n),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf,
      |         ROUND(tf.tf::DOUBLE * idf.idf, 6) AS tfidf
      |  FROM tf JOIN idf USING (token)),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |                               ORDER BY tfidf DESC, token) AS rnk
      |  FROM scored)
      |SELECT doc_id, token, tf, tfidf, rnk::BIGINT AS rnk FROM ranked
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  def qTopBigrams(s: SparkSession, d: String): DataFrame =
    topBigrams(Tables.documents(s, d))

  val qTopBigramsSql: String =
    """SELECT bg AS bigram, COUNT(*) AS n
      |FROM (
      |  SELECT unnest(list_transform(
      |           range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 0) + 1),
      |           i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |                regexp_split_to_array(trim(text), '\s+')[i + 1])) AS bg
      |  FROM documents)
      |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin
}
