package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.TextFns._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: token counting, quality scoring, n-gram-heuristic language ID, and
  * document fingerprinting (builder-prompt scale extensions; nearest
  * reference analog is the string handling in
  * CDK/cdk/athena_queries/count_by_crime_type.txt).
  *
  * All four are per-row narrow transforms — a single parquet scan, no
  * shuffle (except the final fingerprint groupBy, which is a standard
  * partial+final hash-agg). At 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Token statistics: whitespace tokens, regex word/punctuation tokens
    * (a BPE-ish pre-tokenization), distinct tokens, chars. One fused
    * per-row pass ([[graft.functions.TextProfile]]); the composable
    * 4-pass form survives below as the spec oracle. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      profileCol.getField("n_chars").as("n_chars"),
      profileCol.getField("ws_tokens").as("ws_tokens"),
      profileCol.getField("distinct_tokens").as("distinct_tokens"),
      profileCol.getField("re_tokens").as("re_tokens"))

  /** The original split/regexp formulation — the equality oracle for the
    * fused profile (TextAnalysisSpec pins tokenStats ≡ this). */
  private[graft] def tokenStatsComposable(docs: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("ws_tokens"),
      size(array_distinct(toks)).cast("long").as("distinct_tokens"),
      expr("cast(size(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]', 0)) as bigint)")
        .as("re_tokens"))
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Single-pass column builders over a `text` column — shared by the
    * standalone queries below and the composed corpus pipeline
    * ([[Corpus]]), so the combined pass never joins per-row features
    * (three self-joins of the same scan would be the scale anti-pattern).
    * All derive from ONE [[graft.functions.TextProfile]] evaluation:
    * every use site references fields of the same profile subtree, so
    * whole-stage codegen's subexpression elimination runs the fused pass
    * once per row however many features a query selects. */
  private[operators] def profileCol: org.apache.spark.sql.Column =
    graft.functions.TextProfileFns.textProfile(col("text"), stopwords, langMarkers)

  private[operators] def punctRatioCol: org.apache.spark.sql.Column =
    round(profileCol.getField("n_punct").cast("double")
      / profileCol.getField("n_chars").cast("double"), 6)
  private[operators] def stopwordRatioCol: org.apache.spark.sql.Column =
    round(profileCol.getField("stop_hits").cast("double")
      / profileCol.getField("ws_tokens").cast("double"), 6)
  private[operators] def qualityCol: org.apache.spark.sql.Column =
    round(least(lit(1.0), profileCol.getField("ws_tokens").cast("double") / 50.0)
      * (lit(1.0) - least(lit(1.0), punctRatioCol * 5.0))
      * least(lit(1.0), stopwordRatioCol * 4.0 + 0.2), 6)

  // Composable (split/regexp/HOF) twins — the equality oracles.
  private[graft] def punctRatioColComposable: org.apache.spark.sql.Column = {
    val punct = expr("cast(size(regexp_extract_all(text, '[^A-Za-z0-9\\\\s]', 0)) as bigint)")
    round(punct.cast("double") / length(col("text")).cast("double"), 6)
  }
  private[graft] def stopwordRatioColComposable: org.apache.spark.sql.Column = {
    val toks = wsTokens(col("text"))
    round(size(filter_(toks, t => t.isInCollection(stopwords))).cast("double")
      / size(toks).cast("double"), 6)
  }

  /** Quality heuristics: length, punctuation ratio, stopword ratio, mean
    * token length, and a composite score in [0,1]. Ratios are rounded so
    * the cross-engine compare is stable. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      profileCol.getField("n_chars").as("n_chars"),
      profileCol.getField("ws_tokens").as("n_tokens"),
      punctRatioCol.as("punct_ratio"),
      stopwordRatioCol.as("stopword_ratio"),
      round(profileCol.getField("n_chars").cast("double")
        / profileCol.getField("ws_tokens").cast("double"), 6).as("mean_token_len"))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens").cast("double") / 50.0)
          * (lit(1.0) - least(lit(1.0), col("punct_ratio") * 5.0))
          * least(lit(1.0), col("stopword_ratio") * 4.0 + 0.2), 6))

  private[graft] def qualityScoreComposable(docs: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("double")
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      punctRatioColComposable.as("punct_ratio"),
      stopwordRatioColComposable.as("stopword_ratio"),
      round(length(col("text")).cast("double") / nTok, 6).as("mean_token_len"))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens").cast("double") / 50.0)
          * (lit(1.0) - least(lit(1.0), col("punct_ratio") * 5.0))
          * least(lit(1.0), col("stopword_ratio") * 4.0 + 0.2), 6))
  }

  /** Per-language marker lexicons for the n-gram-heuristic language ID.
    * Disjoint across languages so scores are unambiguous. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "los", "una", "por", "que"),
    "de" -> Seq("der", "und", "das", "ein", "ist"),
    "fr" -> Seq("les", "des", "une", "dans", "pour"),
    "zh" -> Seq("shi", "bu", "wo", "zai", "you"),
  )

  /** Marker-hit-rate score for one language, from the fused profile:
    * `hits_<lang> / ws_tokens`. The denominator is the token count of
    * `lower(text)` in the composable form — lowercasing never changes
    * whitespace, so that count IS `ws_tokens`. */
  private def langScoreCol(lang: String): org.apache.spark.sql.Column =
    round(profileCol.getField(s"hits_$lang").cast("double")
      / profileCol.getField("ws_tokens").cast("double"), 6)

  /** The argmax language as a single column (same scores + priority-order
    * tiebreak as [[langId]]) — for composed pipelines that fold language
    * ID into an existing per-row pass. */
  private[operators] def predLangCol: org.apache.spark.sql.Column = {
    val langs = langMarkers
    langs.init.zipWithIndex.foldRight(lit(langs.last._1)) { case (((l, _), i), rest) =>
      val ge = langs.drop(i + 1)
        .map { case (ol, _) => langScoreCol(l) >= langScoreCol(ol) }
        .reduce(_ && _)
      when(ge, lit(l)).otherwise(rest)
    }
  }

  private[graft] def predLangColComposable: org.apache.spark.sql.Column = {
    val toks = wsTokens(lower(col("text")))
    def score(words: Seq[String]) =
      round(size(filter_(toks, t => t.isInCollection(words))).cast("double")
        / size(toks).cast("double"), 6)
    val langs = langMarkers
    langs.init.zipWithIndex.foldRight(lit(langs.last._1)) { case (((l, words), i), rest) =>
      val ge = langs.drop(i + 1)
        .map { case (_, ow) => score(words) >= score(ow) }
        .reduce(_ && _)
      when(ge, lit(l)).otherwise(rest)
    }
  }

  /** Language ID: marker-word hit rate per language, argmax with a fixed
    * priority order (the declaration order above) as tiebreak. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      (col("doc_id") +: langMarkers.map { case (lang, _) =>
        langScoreCol(lang).as(s"score_$lang")
      }): _*)
    // argmax by priority: first language whose score >= all later ones
    val langs = langMarkers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) { case ((l, i), rest) =>
      val ge = langs.drop(i + 1)
        .map(o => col(s"score_$l") >= col(s"score_$o"))
        .reduce(_ && _)
      when(ge, lit(l)).otherwise(rest)
    }
    scored.withColumn("pred_lang", pred)
  }

  private[graft] def langIdComposable(docs: DataFrame): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    val scored = docs.select(
      (col("doc_id") +: langMarkers.map { case (lang, words) =>
        round(size(filter_(toks, t => t.isInCollection(words))).cast("double")
          / size(toks).cast("double"), 6).as(s"score_$lang")
      }): _*)
    val langs = langMarkers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) { case ((l, i), rest) =>
      val ge = langs.drop(i + 1)
        .map(o => col(s"score_$l") >= col(s"score_$o"))
        .reduce(_ && _)
      when(ge, lit(l)).otherwise(rest)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Repetition detection (q49): the repeated-shingle ratio
    * 1 - distinct/total word-3-grams — degenerate machine-generated or
    * boilerplate text repeats itself and scores high. Per-row narrow
    * pass (the fused ShingleSet expression gives the distinct count;
    * total is arithmetic on the token count) — scan-speed. */
  val RepetitionFlagThreshold = 0.2

  def repetition(docs: DataFrame, flagAbove: Double = RepetitionFlagThreshold): DataFrame = {
    val nTok = size(wsTokens(col("text")))
    val total = greatest(nTok - 2, lit(1)).cast("long")
    val distinctSh = size(graft.functions.MinHashFns.shingleSet(col("text"))).cast("long")
    docs.select(
      col("doc_id"),
      total.as("n_shingles_total"),
      distinctSh.as("n_shingles_distinct"),
      round(lit(1.0) - distinctSh.cast("double") / total.cast("double"), 6)
        .as("repetition_ratio"))
      .withColumn("is_repetitive", col("repetition_ratio") > flagAbove)
  }

  /** Normalized-content fingerprint groups: one row per distinct
    * fingerprint with the canonical (minimum) doc_id and group size —
    * the rollup a fingerprint-dedup pass keeps. */
  def fingerprintGroups(docs: DataFrame): DataFrame =
    docs.groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_docs"))

  // Spark's filter() HOF clashes with Dataset.filter in the DSL; alias it.
  private def filter_(arr: org.apache.spark.sql.Column,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.filter(arr, f)

  // ---- SparkEntry wiring -------------------------------------------------

  def qTokenStats(s: SparkSession, d: String): DataFrame =
    tokenStats(Tables.documents(s, d))

  val qTokenStatsSql: String =
    """SELECT doc_id,
      |       CAST(len(text) AS BIGINT) AS n_chars,
      |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      |       CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS distinct_tokens,
      |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  def qQualityScore(s: SparkSession, d: String): DataFrame =
    qualityScore(Tables.documents(s, d))

  /** q8's relation over an arbitrary source fragment — embeddable as a
    * parenthesized subquery (q94's composed ladder scores its stage-3
    * survivors with it). */
  private[operators] def qualityScoreSqlFrom(src: String): String = {
    val stop = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(text) AS BIGINT) AS n_chars,
       |         regexp_split_to_array(trim(text), '\\s+') AS toks,
       |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct
       |  FROM $src)
       |SELECT doc_id, n_chars,
       |       CAST(len(toks) AS BIGINT) AS n_tokens,
       |       ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       |       ROUND(CAST(len(list_filter(toks, x -> x IN ($stop))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
       |       ROUND(CAST(n_chars AS DOUBLE) / len(toks), 6) AS mean_token_len,
       |       ROUND(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
       |             * (1.0 - LEAST(1.0, ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) * 5.0))
       |             * LEAST(1.0, ROUND(CAST(len(list_filter(toks, x -> x IN ($stop))) AS DOUBLE) / len(toks), 6) * 4.0 + 0.2), 6) AS quality
       |FROM t""".stripMargin
  }

  /** q8's relation WITHOUT the final ordering — embeddable as a CTE
    * body (q83's oracle re-derives weak labels from it). */
  private[operators] val qualityScoreNoOrderSql: String =
    qualityScoreSqlFrom("documents")

  val qQualityScoreSql: String =
    s"$qualityScoreNoOrderSql ORDER BY doc_id"

  def qLangId(s: SparkSession, d: String): DataFrame =
    langId(Tables.documents(s, d))

  val qLangIdSql: String = {
    val scoreCols = langMarkers.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"ROUND(CAST(len(list_filter(toks, x -> x IN ($set))) AS DOUBLE) / len(toks), 6) AS score_$lang"
    }.mkString(",\n       ")
    val langs = langMarkers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(s"'${langs.last}'") { case ((l, i), rest) =>
      val ge = langs.drop(i + 1).map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"CASE WHEN $ge THEN '$l' ELSE $rest END"
    }
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |s AS (
       |SELECT doc_id,
       |       $scoreCols
       |FROM t)
       |SELECT *, $pred AS pred_lang FROM s ORDER BY doc_id""".stripMargin
  }

  /** Exact length percentiles per language — corpus shape statistics
    * (Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    * continuous-interpolation definition, so values hash-match). */
  def lengthPercentiles(docs: DataFrame): DataFrame =
    docs.groupBy("lang")
      .agg(
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"),
        expr("percentile(n_chars, 0.99)").as("p99"),
        count(lit(1)).as("n_docs"))

  /** Deterministic stratified sample: keep ~`pct`% of docs per language
    * by thresholding the portable content-independent hash of doc_id —
    * reproducible across engines/runs, no rand(). The training-data
    * downsampling primitive. */
  def stratifiedSample(docs: DataFrame, pct: Int = 10): DataFrame =
    docs.filter(
      graft.functions.TextFns.hash60(concat(lit("samp:"), col("doc_id").cast("string")))
        % 100 < pct)
      .select("doc_id", "lang", "n_chars")

  def qLengthPercentiles(s: SparkSession, d: String): DataFrame =
    lengthPercentiles(Tables.documents(s, d))

  val qLengthPercentilesSql: String =
    """SELECT lang,
      |       quantile_cont(n_chars, 0.5) AS p50,
      |       quantile_cont(n_chars, 0.9) AS p90,
      |       quantile_cont(n_chars, 0.99) AS p99,
      |       COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  def qStratifiedSample(s: SparkSession, d: String): DataFrame =
    stratifiedSample(Tables.documents(s, d))

  val qStratifiedSampleSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE ('0x' || substr(md5('samp:' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10
      |ORDER BY doc_id""".stripMargin

  def qRepetition(s: SparkSession, d: String): DataFrame =
    repetition(Tables.documents(s, d))

  val qRepetitionSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 2, 1)::BIGINT AS n_shingles_total,
      |         len(list_distinct(list_transform(
      |           range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 2, 1) + 1),
      |           i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 2), ' '))))::BIGINT AS n_shingles_distinct
      |  FROM documents)
      |SELECT doc_id, n_shingles_total, n_shingles_distinct,
      |       ROUND(1.0 - n_shingles_distinct::DOUBLE / n_shingles_total, 6) AS repetition_ratio,
      |       (ROUND(1.0 - n_shingles_distinct::DOUBLE / n_shingles_total, 6) > $RepetitionFlagThreshold) AS is_repetitive
      |FROM t ORDER BY doc_id""".stripMargin

  def qFingerprint(s: SparkSession, d: String): DataFrame =
    fingerprintGroups(Tables.documents(s, d))

  val qFingerprintSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      |       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** Unicode-shape fixture for q84 (ids disjoint from corpus and every
    * other fixture): the classic NFC cases — a decomposed accent and
    * its precomposed twin (byte-distinct, SAME nfc_md5: exactly the
    * pair that defeats q11 exact dedup unless folded), a
    * wrong-canonical-order combining run (NFC must reorder cedilla
    * before acute even though neither composes with 'a'), a Hangul jamo
    * run (3 code points → 1 syllable), the OHM/ANGSTROM canonical
    * singletons, an already-normalized doc with non-BMP + a
    * composition-less combining mark (g̈ has no precomposed form), and
    * the empty string. */
  val NormalizeFixture: Seq[(Long, String)] = Seq(
    (4500000L, "cafe\u0301 menu"),                    // e + U+0301 (decomposed)
    (4500001L, "caf\u00e9 menu"),                     // precomposed U+00E9
    (4500002L, "a\u0301\u0327x"),                     // acute(ccc 230) BEFORE cedilla(ccc 202)
    (4500003L, "\u1100\u1161\u11a8"),                 // jamo G + A + trailing K -> U+AC01
    (4500004L, "resistance \u2126 and \u212b units"), // OHM SIGN, ANGSTROM SIGN
    (4500005L, "clef \ud834\udd1e g\u0308"),          // U+1D11E + composition-less g-diaeresis
    (4500006L, ""))

  /** q84: Unicode NFC normalization audit over corpus ∪ fixture — per
    * doc, whether the raw bytes were already canonical, the code-point
    * counts before/after, and the md5 of the NFC form (the join key a
    * curation pass dedups on AFTER folding). The normalize itself is
    * the native whole-stage-codegen expression
    * [[graft.functions.UnicodeNormalize]] — one narrow projection,
    * scan-speed at 100 TB. */
  def qUnicodeNormalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(NormalizeFixture.toDF("doc_id", "text"))
      .withColumn("norm", graft.functions.NormalizeFns.nfcNormalize(col("text")))
      .select(col("doc_id"),
        (col("text") === col("norm")).as("is_normalized"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(col("norm")).cast("long").as("n_chars_nfc"),
        md5(col("norm")).as("nfc_md5"))
  }

  /** Oracle: DuckDB's `nfc_normalize` (utf8proc) against the JDK
    * Normalizer — two independent implementations of the same Unicode
    * canonical composition; the md5 pins every normalized byte.
    *
    * VERSION-SKEW caveat (r18 advice): the two sides track different
    * Unicode versions — the JDK's `java.text.Normalizer` ships the
    * JDK's Unicode tables (Java 17 ≈ Unicode 13), DuckDB's utf8proc its
    * own — so organic text containing characters whose canonical
    * mappings were ADDED or corrected between those versions could
    * hash-fail here even though both engines are "correct" per their
    * tables. The fixture covers the classic stable shapes (composed/
    * decomposed accents, Hangul jamo, compatibility-excluded ranges),
    * and the synthetic corpus is ASCII, so this is latent today. If a
    * future JDK or DuckDB bump flips q84 red with diffs ONLY on exotic
    * code points, diagnose VERSION SKEW first (compare
    * `java.text.Normalizer` vs `nfc_normalize` on the failing strings
    * directly), not an engine bug. */
  val qUnicodeNormalizeSql: String = {
    val fx = NormalizeFixture
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""WITH src AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT * FROM (VALUES $fx) f(doc_id, text)),
       |n AS (SELECT doc_id, text, nfc_normalize(text) AS norm FROM src)
       |SELECT doc_id, (text = norm) AS is_normalized,
       |       length(text)::BIGINT AS n_chars_raw,
       |       length(norm)::BIGINT AS n_chars_nfc,
       |       md5(norm) AS nfc_md5
       |FROM n ORDER BY doc_id""".stripMargin
  }

  /** NFKC + casefold fixture for q89 (ids disjoint from every other
    * fixture family). Each row DECLARES its expected folded form — the
    * q72 oracle pattern for an operation DuckDB cannot replay (it has
    * no NFKC): the generator states the answer, the engine must
    * reproduce it, and any drift in the fold's definition is a hash
    * failure rather than a silent redefinition. The declared forms pin
    * the compatibility classes where NFKC ≠ NFC (ligatures, fullwidth,
    * roman numerals, unit squares, the OHM/ANGSTROM singletons), the
    * ROOT-locale lowercase choice (ß survives — simple lowercase, NOT
    * Unicode full case folding which maps it to ss), and the
    * post-lowercase NFC re-normalize (İ lowers to i + combining dot,
    * which has no precomposed form and must stay decomposed). */
  val CasefoldFixture: Seq[(Long, String, String)] = Seq(
    (4600000L, "ﬁle ﬂight", "file flight"),  // ligatures ﬁ ﬂ
    (4600001L, "２３ ＨＥＬＬＯ",
      "23 hello"),                                     // fullwidth digits+letters
    (4600002L, "Ⅻ hour", "xii hour"),             // Ⅻ → XII → xii
    (4600003L, "5㎞ run", "5km run"),              // ㎞ → km
    (4600004L, "MiXeD Case TEXT", "mixed case text"),  // case only
    (4600005L, "straße", "straße"),          // ß kept (simple lower)
    (4600006L, "Å Ω", "å ω"),      // Å→å, Ω→ω singletons
    (4600007L, "café CAFÉ", "café café"), // compose+lower unify
    (4600008L, "İstanbul", "i̇stanbul"),     // İ → i + U+0307 (no precomposed)
    (4600009L, "", ""))

  /** q89: the PRODUCTION dedup-key fold (q84's sibling) — NFKC +
    * ROOT-locale casefold + NFC re-normalize over corpus ∪ declared
    * fixture, as the native codegen expression
    * [[graft.functions.UnicodeNormalize]] with its form parameter. The
    * folded md5 is the key a curation pass dedups on: byte-distinct
    * case/width/ligature variants collapse to one key (fixture row
    * 4600007 is the q11-defeating pair, now unified). */
  def qNfkcCasefold(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(CasefoldFixture.map { case (id, t, _) => (id, t) }
        .toDF("doc_id", "text"))
    src.withColumn("folded",
        graft.functions.NormalizeFns.nfkcCasefold(col("text")))
      .select(col("doc_id"),
        (col("text") =!= col("folded")).as("changed"),
        length(col("folded")).cast("long").as("n_chars_folded"),
        md5(col("folded")).as("folded_md5"))
  }

  /** Oracle: fixture rows carry their DECLARED folded form; organic
    * rows derive from `lower(nfc_normalize(text))`, exact here because
    * the corpus is ASCII (NFC ≡ NFKC, ASCII lower ≡ casefold) — the
    * exceptional classes live in the fixture precisely because the
    * derivation cannot express them. */
  val qNfkcCasefoldSql: String = {
    val fx = CasefoldFixture
      .map { case (id, t, e) => s"($id, '$t', '$e')" }.mkString(", ")
    s"""WITH org AS (
       |  SELECT doc_id, text, lower(nfc_normalize(text)) AS folded
       |  FROM documents),
       |fx AS (SELECT * FROM (VALUES $fx) f(doc_id, text, folded)),
       |u AS (SELECT * FROM org UNION ALL SELECT * FROM fx)
       |SELECT doc_id, (text <> folded) AS changed,
       |       length(folded)::BIGINT AS n_chars_folded,
       |       md5(folded) AS folded_md5
       |FROM u ORDER BY doc_id""".stripMargin
  }

  /** Folded-key exact dedup fixture for q92 (ids disjoint from every
    * other family): byte-DISTINCT variants that must share one fold key
    * — a cased/fullwidth/ligature trio, a cased pair — plus a singleton.
    * Declared folded forms, the q89/q72 oracle pattern. */
  val FoldedDedupFixture: Seq[(Long, String, String)] = Seq(
    (4700000L, "The Quick Brown Fox", "the quick brown fox"),
    (4700001L, "ＴＨＥ ＱＵＩＣＫ ＢＲＯＷＮ ＦＯＸ",
      "the quick brown fox"),
    (4700002L, "the quick brown fox", "the quick brown fox"),
    (4700010L, "ﬁnal oﬀer terms", "final offer terms"),
    (4700011L, "FINAL OFFER TERMS", "final offer terms"),
    (4700020L, "unique snowﬂake row", "unique snowflake row"))

  /** q92: exact dedup on the FOLDED key — the composition q89 exists
    * for: `md5(nfkcCasefold(text))` as the group key, so byte-distinct
    * case/width/ligature variants collapse to one canonical doc (the
    * planted trio and pair each roll up to their min id), where q11's
    * raw-byte key sees six unrelated documents. Same scale shape as
    * q11: one narrow codegen'd fold + md5, then a fixed-width-key
    * hash aggregate. */
  def qFoldedDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(FoldedDedupFixture.map { case (id, t, _) => (id, t) }
        .toDF("doc_id", "text"))
      .groupBy(md5(graft.functions.NormalizeFns.nfkcCasefold(col("text")))
        .as("fold_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_dups"))
  }

  /** Oracle: the q89 derivation (declared fixture folds, organic
    * lower∘nfc) feeding the q11 rollup. */
  val qFoldedDedupSql: String = {
    val fx = FoldedDedupFixture
      .map { case (id, _, e) => s"($id, '$e')" }.mkString(", ")
    s"""WITH org AS (
       |  SELECT doc_id, lower(nfc_normalize(text)) AS folded
       |  FROM documents),
       |fx AS (SELECT * FROM (VALUES $fx) f(doc_id, folded)),
       |u AS (SELECT * FROM org UNION ALL SELECT * FROM fx)
       |SELECT md5(folded) AS fold_md5, MIN(doc_id) AS keep_doc_id,
       |       COUNT(*)::BIGINT AS n_dups
       |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
