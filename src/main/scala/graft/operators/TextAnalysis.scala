package graft.operators

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token stats,
  * quality scoring, document fingerprinting, corpus top terms, and an
  * n-gram language-ID heuristic (rows-only; the synthetic corpus has no
  * real cross-language signal).
  *
  * Everything stays inside `org.apache.spark.sql.functions` higher-order
  * array expressions — no UDFs — so Catalyst sees every subexpression.
  * Integer widths are pinned to BIGINT to match DuckDB's len()/count().
  */
object TextAnalysis extends QueryModule {

  private val Stop = "('the','a','of','and','to','in','is','it')"

  /** Docs-per-bucket target of [[packBucketCount]]'s derived default. */
  private[graft] val PackDocsPerBucket = 4096L

  /** Packing-bucket count shared by t_sequence_pack, t_bpe_pack and
    * TrainingData.prepare/prepareWeb — the PARALLELISM DIAL of the
    * packing stage: the running-token cumulative sum runs one
    * independent timeline per bucket, so the bucket count is the
    * stage's maximum parallelism AND its per-window state bound (a
    * fixed count at 100 TB would sort ~corpus/32 tokens of window
    * state per timeline). `spark.graft.pack.buckets` overrides; the
    * default derives one bucket per ~4096 docs with a floor of 32, so
    * gate corpora keep the historical 32 while a 10B-doc corpus gets
    * ~2.4M bounded timelines. Bins are independent across buckets —
    * more buckets cost nothing in packing quality.
    */
  private[graft] def packBucketCount(spark: org.apache.spark.sql.SparkSession,
                                     nDocs: Long): Int =
    spark.conf.getOption("spark.graft.pack.buckets").map(_.toInt)
      .getOrElse(math.max(32L, (nDocs + PackDocsPerBucket - 1) / PackDocsPerBucket).toInt)

  /** The t_quality_score scalar, reused by the global-threshold filter:
    * length-capped token share + stopword ratio + alpha density, rounded
    * to 4dp so both engines compare identical doubles.
    */
  private[graft] def qualityCol = round(
    least(lit(1.0), expr("CAST(size(split(text, ' ')) AS BIGINT)").cast("double") / 200.0) * 0.5 +
      expr(s"CAST(size(filter(split(text, ' '), w -> w IN $Stop)) AS BIGINT)").cast("double") /
        expr("CAST(size(split(text, ' ')) AS BIGINT)") * 0.2 +
      expr("CAST(length(regexp_replace(text, '[^a-z]', '')) AS BIGINT)").cast("double") /
        length(col("text")).cast("bigint") * 0.3, 4)

  /** DuckDB twin of [[qualityCol]] as a bare expression over a `text`
    * column — shared by the quality CTEs here, d_keep_best's oracle
    * (textually equal by construction there), and d_web_pipeline.
    */
  private[graft] val QualityExprSql: String =
    s"""ROUND(LEAST(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/200.0)*0.5
       |    + (CAST(len(list_filter(string_split(text,' '), w -> w IN $Stop)) AS DOUBLE)
       |       / len(string_split(text,' ')))*0.2
       |    + (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
       |       / length(text))*0.3, 4)""".stripMargin

  private val qualitySqlCte =
    s"""q AS (SELECT doc_id,
       |  $QualityExprSql AS quality
       |  FROM documents)""".stripMargin

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    * ... Gopher", Appendix A1.1 — the published MassiveText document
    * filter, since reused by FineWeb/Dolma-class pipelines): word-count
    * bounds, mean word length, symbol-to-word ratio (# and ellipsis),
    * bullet-start and ellipsis-end line ratios, alphabetic-word share,
    * and a required-stopword floor. Emitted per document as the raw
    * metrics PLUS one boolean per rule and the conjunctive `pass`, so a
    * pipeline can either filter on `pass` or re-threshold the metrics.
    * Pure `functions`/higher-order-array expressions — stateless
    * per-row, no shuffle before the sink, shared verbatim by the
    * streaming twin (st_gopher_rules). Tokenization is the corpus
    * convention (single-space split) used by every t_* entry.
    */
  private[graft] def gopherRules(docs: org.apache.spark.sql.DataFrame,
                                 carry: Seq[String] = Nil,
                                 keepText: Boolean = false): org.apache.spark.sql.DataFrame = {
    // `carry` columns pass through untouched (default none, so every
    // existing entry's frame is unchanged) — a STREAMING caller cannot
    // re-join the battery output to its own other projections without
    // a stream-stream join, so it threads its columns through instead.
    // `keepText` additionally passes the text column through (r16:
    // prepareWeb's gopher stage filters its corpus frame in ONE pass —
    // battery metrics as a projection, pass condition as a filter —
    // instead of deriving a keep-id set and re-scanning the stage
    // checkpoint for a semi join).
    val gopherStop = "('the','be','to','of','and','that','have','with')"
    val carryCols = carry.map(col) ++ (if (keepText) Seq(col("text")) else Nil)
    docs.select(col("doc_id") +: col("text") +: carry.map(col): _*)
      .select(Seq(
        col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_words"),
        // sum of token lengths == chars minus separators (empty tokens
        // contribute 0 either way)
        expr("CAST(length(replace(text, ' ', '')) AS BIGINT)").as("word_chars"),
        expr("CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)").as("n_hash"),
        expr("CAST((length(text) - length(replace(text, '...', ''))) DIV 3 AS BIGINT)")
          .as("n_ellipsis"),
        expr("CAST(size(filter(split(text, ' '), w -> w rlike '[a-zA-Z]')) AS BIGINT)")
          .as("n_alpha_words"),
        expr(s"CAST(size(filter(array$gopherStop, sw -> array_contains(split(text, ' '), sw))) AS BIGINT)")
          .as("stop_hits"),
        expr("CAST(size(split(text, '\\n')) AS BIGINT)").as("n_lines"),
        expr("CAST(size(filter(split(text, '\\n'), l -> startswith(l, '- ') OR startswith(l, '* ') OR startswith(l, '• '))) AS BIGINT)")
          .as("n_bullet"),
        expr("CAST(size(filter(split(text, '\\n'), l -> endswith(l, '...'))) AS BIGINT)")
          .as("n_ell_end")) ++ carryCols: _*)
      .select(Seq(
        col("doc_id"), col("n_words"),
        round(col("word_chars").cast("double") / col("n_words"), 4).as("mean_word_len"),
        round((col("n_hash") + col("n_ellipsis")).cast("double") / col("n_words"), 4)
          .as("symbol_ratio"),
        round(col("n_bullet").cast("double") / col("n_lines"), 4).as("bullet_ratio"),
        round(col("n_ell_end").cast("double") / col("n_lines"), 4).as("ellipsis_ratio"),
        round(col("n_alpha_words").cast("double") / col("n_words"), 4).as("alpha_word_ratio"),
        col("stop_hits"),
        col("n_words").between(50L, 100000L).as("pass_words"),
        (col("word_chars").cast("double") / col("n_words"))
          .between(3.0, 10.0).as("pass_mean_len"),
        ((col("n_hash") + col("n_ellipsis")).cast("double") / col("n_words") <= 0.1)
          .as("pass_symbol"),
        (col("n_bullet").cast("double") / col("n_lines") <= 0.9).as("pass_bullet"),
        (col("n_ell_end").cast("double") / col("n_lines") <= 0.3).as("pass_ellipsis"),
        (col("n_alpha_words").cast("double") / col("n_words") >= 0.8).as("pass_alpha"),
        (col("stop_hits") >= 2L).as("pass_stop")) ++ carryCols: _*)
      .withColumn("pass",
        col("pass_words") && col("pass_mean_len") && col("pass_symbol") &&
          col("pass_bullet") && col("pass_ellipsis") && col("pass_alpha") &&
          col("pass_stop"))
  }

  /** Gopher per-doc metric columns (DuckDB) — ONE definition shared by
    * the t_gopher_rules oracle and the d_web_pipeline stage CTE so the
    * rule arithmetic cannot drift between the standalone entry and the
    * composite.
    */
  private[graft] val GopherMetricColsSql: String =
    """CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
      |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
      |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
      |  CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
      |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      |    sw -> list_contains(string_split(text, ' '), sw))) AS BIGINT) AS stop_hits,
      |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |  CAST(len(list_filter(string_split(text, chr(10)),
      |    l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, chr(8226) || ' '))) AS BIGINT) AS n_bullet,
      |  CAST(len(list_filter(string_split(text, chr(10)), l -> ends_with(l, '...'))) AS BIGINT) AS n_ell_end""".stripMargin

  /** The Gopher pass conjunction over [[GopherMetricColsSql]]'s columns,
    * with the stopword floor as a parameter: the standalone entry uses
    * the paper's >= 2; d_web_pipeline re-thresholds to >= 1 because the
    * synthetic corpus's vocabulary carries only ONE of the eight Gopher
    * stopwords ('the'), so the paper floor would zero the corpus (the
    * per-rule booleans exist precisely so pipelines can re-threshold).
    */
  private[graft] def gopherPassCondSql(stopFloor: Int): String =
    s"""(n_words BETWEEN 50 AND 100000)
       |  AND (CAST(word_chars AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0)
       |  AND (CAST(n_hash + n_ellipsis AS DOUBLE) / n_words <= 0.1)
       |  AND (CAST(n_bullet AS DOUBLE) / n_lines <= 0.9)
       |  AND (CAST(n_ell_end AS DOUBLE) / n_lines <= 0.3)
       |  AND (CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8)
       |  AND (stop_hits >= $stopFloor)""".stripMargin

  private[graft] val GopherRulesSql: String =
    s"""WITH m AS (SELECT doc_id,
      |  $GopherMetricColsSql
      |  FROM documents)
      |SELECT doc_id, n_words,
      |ROUND(CAST(word_chars AS DOUBLE) / n_words, 4) AS mean_word_len,
      |ROUND(CAST(n_hash + n_ellipsis AS DOUBLE) / n_words, 4) AS symbol_ratio,
      |ROUND(CAST(n_bullet AS DOUBLE) / n_lines, 4) AS bullet_ratio,
      |ROUND(CAST(n_ell_end AS DOUBLE) / n_lines, 4) AS ellipsis_ratio,
      |ROUND(CAST(n_alpha_words AS DOUBLE) / n_words, 4) AS alpha_word_ratio,
      |stop_hits,
      |n_words BETWEEN 50 AND 100000 AS pass_words,
      |CAST(word_chars AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0 AS pass_mean_len,
      |CAST(n_hash + n_ellipsis AS DOUBLE) / n_words <= 0.1 AS pass_symbol,
      |CAST(n_bullet AS DOUBLE) / n_lines <= 0.9 AS pass_bullet,
      |CAST(n_ell_end AS DOUBLE) / n_lines <= 0.3 AS pass_ellipsis,
      |CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8 AS pass_alpha,
      |stop_hits >= 2 AS pass_stop,
      |${gopherPassCondSql(2)} AS pass
      |FROM m""".stripMargin

  /** C4 structural filter (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning with a Unified Text-to-Text Transformer", §2.2 —
    * the heuristics that produced C4 from Common Crawl): a LINE is kept
    * only if it ends in terminal punctuation (period / exclamation /
    * question mark / closing quote), has ≥ 5 words, and does not
    * mention "javascript"; a PAGE passes only with ≥ 3 sentences left
    * in its kept lines and neither "lorem ipsum" nor a curly brace
    * anywhere. Sentences are counted as terminal `.!?` marks in the
    * kept lines — the usual closed-form approximation. Divergence from
    * the RELEASED c4_utils (tensorflow-datasets): that code additionally
    * drops lines ending in an ellipsis "..." and matches "javascript"
    * as a whole word; here the paper-level rules are taken literally —
    * an ellipsis line ends in '.' so it is kept (and contributes three
    * sentence marks), and "javascript" matches as a substring. Both
    * engines implement the same literal reading, so the gate compares
    * like for like. (C4's remaining
    * rule, the "bad word" blocklist, is a vendored word LIST, not a
    * structural rule — a caller supplies their own list via an extra
    * rlike filter; nothing is hidden in here.) Emitted per document as
    * raw metrics plus one boolean per rule and the conjunctive `pass`,
    * same contract as [[gopherRules]]. Pure higher-order-array
    * expressions, stateless per-row, no shuffle before the sink —
    * shared verbatim by the streaming twin (st_c4_rules).
    */
  /** Kept lines per C4's line rules over a text expression `t`; '\n' is
    * the same regex-newline split every line rule in this file uses.
    * Parameterized by the text REFERENCE so [[c4Rules]] (column `text`)
    * and the inline pipeline filter ([[c4PassExpr]], lambda-bound page
    * variable) share one definition — the drift guard for the stage
    * inlining.
    */
  private def c4KeptExpr(t: String): String =
    s"""filter(split($t, '\\n'), l ->
        (endswith(l, '.') OR endswith(l, '!') OR endswith(l, '?') OR endswith(l, '"'))
        AND size(split(l, ' ')) >= 5
        AND NOT contains(lower(l), 'javascript'))"""

  /** Sentence-terminator count over the kept lines of `t` (the
    * pass_sentences metric's input). */
  private def c4SentencesExpr(t: String): String =
    s"""CAST(aggregate(${c4KeptExpr(t)}, CAST(0 AS BIGINT),
                 (acc, l) -> acc + length(l) - length(translate(l, '.!?', ''))) AS BIGINT)"""

  /** The full C4 page-level pass conjunction over a text reference `t` —
    * exactly [[c4Rules]]' `pass` column (pass_sentences AND pass_lorem
    * AND pass_brace), as one boolean expression. Used by prepareWeb's
    * inlined filter_c4 stage.
    */
  private[graft] def c4PassExpr(t: String): String =
    s"(${c4SentencesExpr(t)} >= 3) AND NOT contains(lower($t), 'lorem ipsum') AND NOT contains($t, '{')"

  private[graft] def c4Rules(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs.select(col("doc_id"), col("text"))
      .select(
        col("doc_id"),
        expr("CAST(size(split(text, '\\n')) AS BIGINT)").as("n_lines"),
        expr(s"CAST(size(${c4KeptExpr("text")}) AS BIGINT)").as("n_kept"),
        expr(c4SentencesExpr("text")).as("n_sentences"),
        expr("contains(lower(text), 'lorem ipsum')").as("has_lorem"),
        expr("contains(text, '{')").as("has_brace"))
      .select(
        col("doc_id"), col("n_lines"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_lines"), 4).as("kept_ratio"),
        col("n_sentences"), col("has_lorem"), col("has_brace"),
        (col("n_sentences") >= 3L).as("pass_sentences"),
        (!col("has_lorem")).as("pass_lorem"),
        (!col("has_brace")).as("pass_brace"))
      .withColumn("pass",
        col("pass_sentences") && col("pass_lorem") && col("pass_brace"))
  }

  /** Deterministic page re-lining for the C4 entry: the synthetic
    * corpus is single-line word soup with zero punctuation (every C4
    * metric would be a constant on it), so fold the first 40 tokens
    * into five 8-word lines whose terminators cycle on doc_id —
    * period / '...' / question mark / NONE (an unterminated line the
    * filter must drop) — truncate line 3 to three words on every fifth
    * doc (the ≥5-word floor), inject "javascript" into line 2 on every
    * seventh, and append the page-level lorem-ipsum / curly-brace
    * markers on every 11th / 13th. Same construction, token for token,
    * in [[C4PageSqlExpr]] for the DuckDB side — the closed-form fixture
    * convention the multimodal entries use.
    */
  private[graft] def c4PageTable(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), expr(C4PageExprSpark).as("text"))

  /** The Spark-side page expression of [[c4PageTable]], exposed so
    * prepareWeb's inlined filter_c4 stage can evaluate page + pass as
    * one row-local filter over (doc_id, text).
    */
  private[graft] val C4PageExprSpark: String = {
    def term(i: Int) =
      s"CASE CAST((doc_id + $i) % 4 AS INT) WHEN 0 THEN '.' WHEN 1 THEN '...' WHEN 2 THEN '?' ELSE '' END"
    def line(i: Int) = {
      val body =
        if (i == 2) s"array_join(slice(split(text, ' '), ${8 * i + 1}, CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 8 END), ' ')"
        else s"array_join(slice(split(text, ' '), ${8 * i + 1}, 8), ' ')"
      val js = if (i == 1) " || CASE WHEN doc_id % 7 = 0 THEN ' javascript' ELSE '' END" else ""
      s"$body$js || ${term(i)}"
    }
    (0 until 5).map(line).mkString("concat_ws('\\n', ", ", ", ")") +
      " || CASE WHEN doc_id % 11 = 0 THEN '\\nlorem ipsum' ELSE '' END" +
      " || CASE WHEN doc_id % 13 = 0 THEN '\\n{' ELSE '' END"
  }

  /** DuckDB twin of [[c4PageTable]] — one SELECT-able expression
    * producing the identical page string from (doc_id, text).
    * list_slice is begin/end-index (inclusive) where Spark's slice is
    * start/LENGTH; both 1-based.
    */
  private[graft] val C4PageSqlExpr: String = {
    def term(i: Int) =
      s"CASE CAST((doc_id + $i) % 4 AS INT) WHEN 0 THEN '.' WHEN 1 THEN '...' WHEN 2 THEN '?' ELSE '' END"
    def line(i: Int) = {
      // COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
      // array_join of an empty slice is '' — without it, a sub-40-word
      // document NULLs the line and concat_ws silently drops it
      val body =
        if (i == 2) s"coalesce(array_to_string(list_slice(string_split(text, ' '), ${8 * i + 1}, ${8 * i} + CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 8 END), ' '), '')"
        else s"coalesce(array_to_string(list_slice(string_split(text, ' '), ${8 * i + 1}, ${8 * i + 8}), ' '), '')"
      val js = if (i == 1) " || CASE WHEN doc_id % 7 = 0 THEN ' javascript' ELSE '' END" else ""
      s"$body$js || ${term(i)}"
    }
    (0 until 5).map(line).mkString("concat_ws(chr(10), ", ", ", ")") +
      " || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'lorem ipsum' ELSE '' END" +
      " || CASE WHEN doc_id % 13 = 0 THEN chr(10) || '{' ELSE '' END"
  }

  /** C4 kept-line / page-marker metric columns (DuckDB) — shared by
    * the t_c4_rules oracle and the d_web_pipeline stage CTE (drift
    * guard, same convention as [[GopherMetricColsSql]]).
    */
  private[graft] val C4MetricColsSql: String =
    """CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |  list_filter(string_split(text, chr(10)), l ->
      |    (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?') OR ends_with(l, '"'))
      |    AND len(string_split(l, ' ')) >= 5
      |    AND NOT contains(lower(l), 'javascript')) AS kept,
      |  contains(lower(text), 'lorem ipsum') AS has_lorem,
      |  contains(text, '{') AS has_brace""".stripMargin

  /** Sentence count over the `kept` column of [[C4MetricColsSql]]. */
  private[graft] val C4SentenceSumSql: String =
    """CAST(coalesce(list_sum(list_transform(kept,
      |    l -> length(l) - length(translate(l, '.!?', '')))), 0) AS BIGINT)""".stripMargin

  /** The C4 page-level pass conjunction over the s-CTE's columns. */
  private[graft] val C4PassCondSql: String =
    "(n_sentences >= 3) AND NOT has_lorem AND NOT has_brace"

  private[graft] val C4RulesSql: String =
    s"""WITH pages AS (SELECT doc_id, $C4PageSqlExpr AS text FROM documents),
      |m AS (SELECT doc_id,
      |  $C4MetricColsSql
      |  FROM pages),
      |s AS (SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
      |  $C4SentenceSumSql AS n_sentences,
      |  has_lorem, has_brace
      |  FROM m)
      |SELECT doc_id, n_lines, n_kept,
      |ROUND(CAST(n_kept AS DOUBLE) / n_lines, 4) AS kept_ratio,
      |n_sentences, has_lorem, has_brace,
      |n_sentences >= 3 AS pass_sentences,
      |NOT has_lorem AS pass_lorem,
      |NOT has_brace AS pass_brace,
      |$C4PassCondSql AS pass
      |FROM s""".stripMargin

  /** FineWeb quality filter (Penedo et al. 2024, "The FineWeb Datasets:
    * Decanting the Web for the Finest Text Data at Scale" — the three
    * custom heuristics FineWeb added on top of its Gopher/C4 baseline,
    * each developed against a C4-filtered ablation):
    *   1. KEEP only if the fraction of lines ending in terminal
    *      punctuation (the C4 set: . ! ? ") is ABOVE 0.12;
    *   2. KEEP only if the fraction of characters in duplicated lines
    *      is BELOW 0.10 — counted over occurrences AFTER the first of
    *      each repeated line (the datatrove convention), against total
    *      line characters;
    *   3. KEEP only if the fraction of lines shorter than 30 characters
    *      is BELOW 0.67.
    * Emitted per document as raw metrics plus one boolean per rule and
    * the conjunctive `pass`, the same contract as [[gopherRules]] /
    * [[c4Rules]]. The duplicate-line scan is ROW-LOCAL (sort the line
    * array, charge each element equal to its predecessor) — no explode,
    * no shuffle, so the projection is shared verbatim by the streaming
    * twin (st_fineweb_rules) and partitions embarrassingly at 100 TB.
    * Rule thresholds compare the UNROUNDED ratios; the 4dp rounding is
    * display-only, as in gopherRules.
    */
  /** FineWeb metric fragments over a line-array reference `ls` and its
    * sorted twin `sl` — parameterized so [[finewebRules]] (columns
    * lines/slines) and the inline pipeline filter ([[fwPassExpr]],
    * lambda-bound variables) share one definition per rule (the
    * filter_c4 drift-guard convention).
    */
  private def fwNPunctExpr(ls: String): String =
    s"""CAST(size(filter($ls, l ->
            endswith(l, '.') OR endswith(l, '!') OR endswith(l, '?') OR endswith(l, '"')))
            AS BIGINT)"""
  private def fwNShortExpr(ls: String): String =
    s"CAST(size(filter($ls, l -> length(l) < 30)) AS BIGINT)"
  // element_at is 1-based and transform's index 0-based, so
  // element_at(sl, i) IS the predecessor of position i
  private def fwDupCharsExpr(sl: String): String =
    s"""CAST(aggregate(transform($sl, (l, i) ->
            IF(i > 0 AND l = element_at($sl, i), CAST(length(l) AS BIGINT), CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT)"""
  private def fwLineCharsExpr(ls: String): String =
    s"CAST(aggregate($ls, CAST(0 AS BIGINT), (a, l) -> a + CAST(length(l) AS BIGINT)) AS BIGINT)"

  /** The full FineWeb page-level pass conjunction over a line-array
    * reference `ls` and its sorted twin `sl` — exactly [[finewebRules]]'
    * `pass` column (the three rules on the UNROUNDED ratios), as one
    * boolean expression. Used by prepareWeb's inlined filter_fineweb
    * stage.
    */
  private[graft] def fwPassExpr(ls: String, sl: String): String =
    s"""(CAST(${fwNPunctExpr(ls)} AS DOUBLE) / CAST(size($ls) AS BIGINT) > 0.12)
       AND (CAST(${fwNShortExpr(ls)} AS DOUBLE) / CAST(size($ls) AS BIGINT) < 0.67)
       AND (CAST(${fwDupCharsExpr(sl)} AS DOUBLE)
            / greatest(${fwLineCharsExpr(ls)}, CAST(1 AS BIGINT)) < 0.1)"""

  private[graft] def finewebRules(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs.select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        expr("split(text, '\\n')").as("lines"),
        expr("array_sort(split(text, '\\n'))").as("slines"))
      .select(
        col("doc_id"),
        expr("CAST(size(lines) AS BIGINT)").as("n_lines"),
        expr(fwNPunctExpr("lines")).as("n_punct"),
        expr(fwNShortExpr("lines")).as("n_short"),
        expr(fwDupCharsExpr("slines")).as("dup_chars"),
        expr(fwLineCharsExpr("lines")).as("line_chars"))
      .select(
        col("doc_id"), col("n_lines"), col("dup_chars"), col("line_chars"),
        round(col("n_punct").cast("double") / col("n_lines"), 4).as("punct_ratio"),
        round(col("n_short").cast("double") / col("n_lines"), 4).as("short_ratio"),
        round(col("dup_chars").cast("double") / greatest(col("line_chars"), lit(1L)), 4)
          .as("dup_char_ratio"),
        (col("n_punct").cast("double") / col("n_lines") > 0.12).as("pass_punct"),
        (col("n_short").cast("double") / col("n_lines") < 0.67).as("pass_short"),
        (col("dup_chars").cast("double") / greatest(col("line_chars"), lit(1L)) < 0.1)
          .as("pass_dup"))
      .withColumn("pass", col("pass_punct") && col("pass_short") && col("pass_dup"))
  }

  /** Deterministic page re-lining for the FineWeb entry (the c4PageTable
    * convention — the synthetic corpus is single-line word soup, so the
    * line-level rules would be constants on it): six 6-word lines from
    * the first 36 tokens, terminators cycling '.', '?', NONE on
    * (doc_id + i) % 3; every 10th doc gets NO terminators anywhere (the
    * punct-ratio fail arm); every 9th doc truncates EVERY line to two
    * words (the short-line fail arm); line 4 alone truncates to two
    * words on every 4th doc (a short line that does not fail the doc);
    * every 3rd doc appends a verbatim copy of line 0 (the
    * duplicated-line fail arm). Token for token in [[FwPageSqlExpr]].
    */
  private[graft] def fwPageTable(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), expr(FwPageExprSpark).as("text"))

  /** The Spark-side page expression of [[fwPageTable]], exposed for
    * prepareWeb's inlined filter_fineweb stage (the C4PageExprSpark
    * convention).
    */
  private[graft] val FwPageExprSpark: String = {
    def term(i: Int) =
      s"CASE WHEN doc_id % 10 = 0 THEN '' WHEN CAST((doc_id + $i) % 3 AS INT) = 0 THEN '.' WHEN CAST((doc_id + $i) % 3 AS INT) = 1 THEN '?' ELSE '' END"
    def len(i: Int) =
      s"CASE WHEN doc_id % 9 = 0 THEN 2 ${if (i == 4) "WHEN doc_id % 4 = 0 THEN 2 " else ""}ELSE 6 END"
    def line(i: Int) =
      s"array_join(slice(split(text, ' '), ${6 * i + 1}, ${len(i)}), ' ') || ${term(i)}"
    (0 until 6).map(line).mkString("concat_ws('\\n', ", ", ", ")") +
      s" || CASE WHEN doc_id % 3 = 0 THEN '\\n' || ${line(0)} ELSE '' END"
  }

  /** DuckDB twin of [[fwPageTable]] — list_slice is begin/end-inclusive
    * where Spark's slice is start/LENGTH (both 1-based), and the
    * empty-slice join is COALESCEd ('' in Spark, NULL in DuckDB — the
    * r10 c4 lesson).
    */
  private[graft] val FwPageSqlExpr: String = {
    def term(i: Int) =
      s"CASE WHEN doc_id % 10 = 0 THEN '' WHEN CAST((doc_id + $i) % 3 AS INT) = 0 THEN '.' WHEN CAST((doc_id + $i) % 3 AS INT) = 1 THEN '?' ELSE '' END"
    def len(i: Int) =
      s"CASE WHEN doc_id % 9 = 0 THEN 2 ${if (i == 4) "WHEN doc_id % 4 = 0 THEN 2 " else ""}ELSE 6 END"
    def line(i: Int) =
      s"coalesce(array_to_string(list_slice(string_split(text, ' '), ${6 * i + 1}, ${6 * i} + ${len(i)}), ' '), '') || ${term(i)}"
    (0 until 6).map(line).mkString("concat_ws(chr(10), ", ", ", ")") +
      s" || CASE WHEN doc_id % 3 = 0 THEN chr(10) || ${line(0)} ELSE '' END"
  }

  /** FineWeb per-doc metric columns over the l-CTE's (lines, slines)
    * (DuckDB) — shared by the t_fineweb_rules oracle and the
    * d_web_pipeline stage CTE (drift guard).
    */
  private[graft] val FwMetricColsSql: String =
    """CAST(len(lines) AS BIGINT) AS n_lines,
      |  CAST(len(list_filter(lines, x ->
      |    ends_with(x, '.') OR ends_with(x, '!') OR ends_with(x, '?') OR ends_with(x, '"'))) AS BIGINT) AS n_punct,
      |  CAST(len(list_filter(lines, x -> length(x) < 30)) AS BIGINT) AS n_short,
      |  CAST(coalesce(list_sum(list_transform(slines, (x, i) ->
      |    CASE WHEN i > 1 AND x = slines[i-1] THEN length(x) ELSE 0 END)), 0) AS BIGINT) AS dup_chars,
      |  CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS BIGINT) AS line_chars""".stripMargin

  /** The FineWeb pass conjunction over [[FwMetricColsSql]]'s columns. */
  private[graft] val FwPassCondSql: String =
    """(CAST(n_punct AS DOUBLE) / n_lines > 0.12)
      |  AND (CAST(n_short AS DOUBLE) / n_lines < 0.67)
      |  AND (CAST(dup_chars AS DOUBLE) / GREATEST(line_chars, 1) < 0.1)""".stripMargin

  private[graft] val FinewebRulesSql: String =
    s"""WITH pages AS (SELECT doc_id, $FwPageSqlExpr AS text FROM documents),
      |l AS (SELECT doc_id, string_split(text, chr(10)) AS lines,
      |  list_sort(string_split(text, chr(10))) AS slines FROM pages),
      |m AS (SELECT doc_id,
      |  $FwMetricColsSql
      |  FROM l)
      |SELECT doc_id, n_lines, dup_chars, line_chars,
      |ROUND(CAST(n_punct AS DOUBLE) / n_lines, 4) AS punct_ratio,
      |ROUND(CAST(n_short AS DOUBLE) / n_lines, 4) AS short_ratio,
      |ROUND(CAST(dup_chars AS DOUBLE) / GREATEST(line_chars, 1), 4) AS dup_char_ratio,
      |CAST(n_punct AS DOUBLE) / n_lines > 0.12 AS pass_punct,
      |CAST(n_short AS DOUBLE) / n_lines < 0.67 AS pass_short,
      |CAST(dup_chars AS DOUBLE) / GREATEST(line_chars, 1) < 0.1 AS pass_dup,
      |$FwPassCondSql AS pass
      |FROM m""".stripMargin

  /** Crawl-permission decisions over synthetic robots.txt fixtures —
    * the REAL RFC 9309 parse/match/precedence path
    * (functions.RobotsRules) driven end to end per document: a
    * two-group robots file (a `*` group with overlapping
    * Disallow/Allow prefixes; a GraftBot group with its own rules and
    * Crawl-delay, present on 3 of 4 docs so the `*` fallback arm runs)
    * and a doc_id-derived URL path, decided for agent "GraftBot". The
    * oracle recomputes group choice, allow/disallow, winning-pattern
    * length, and crawl delay closed-form from doc_id — a parser that
    * mis-merges groups, breaks longest-match-wins, or loses the
    * allow-tie rule reds out. Stateless per-row map, no shuffle.
    */
  private[graft] def robotsDecisions(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // typed map, not an RDD transform: the identical projection then
    // serves the batch gate AND the streaming twin (st_robots_rules)
    Par.widen(docs.select(col("doc_id")), col("doc_id")).as[Long].map { d =>
      val sb = new StringBuilder
      sb.append("# synthetic robots fixture\n")
      sb.append("User-agent: *\n")
      sb.append("Disallow: /p0\n")
      sb.append("Disallow: /p1/x\n")
      sb.append("Allow: /p1/x2\n")
      if (d % 4 != 0) {
        sb.append("\nUser-agent: GraftBot\n")
        sb.append("Disallow: /p2\n")
        sb.append("Allow: /p2/x1\n")
        sb.append(s"Crawl-delay: ${d % 9 + 1}\n")
      }
      val path = s"/p${d % 5}/x${d % 3}"
      val dec = graft.functions.RobotsRules.decide(
        graft.functions.RobotsRules.parse(sb.toString), "GraftBot", path)
      (d, path, dec.groupUsed, dec.crawlDelay, dec.allowed, dec.matchLen)
    }.toDF("doc_id", "path", "group_used", "crawl_delay", "allowed", "match_len")
  }

  /** Closed-form `allowed` decision of the robots fixture (DuckDB) —
    * shared by the t_robots_rules oracle and d_web_pipeline's gate CTE
    * (drift guard).
    */
  private[graft] val RobotsAllowedSql: String =
    """CASE WHEN doc_id % 4 = 0 THEN
      |  CASE WHEN doc_id % 5 = 0 THEN FALSE
      |       WHEN doc_id % 5 = 1 THEN doc_id % 3 = 2
      |       ELSE TRUE END
      |ELSE CASE WHEN doc_id % 5 = 2 THEN doc_id % 3 = 1 ELSE TRUE END
      |END""".stripMargin

  private[graft] val RobotsRulesSql: String =
    s"""SELECT doc_id,
      |'/p' || CAST(doc_id % 5 AS VARCHAR) || '/x' || CAST(doc_id % 3 AS VARCHAR) AS path,
      |CASE WHEN doc_id % 4 = 0 THEN '*' ELSE 'graftbot' END AS group_used,
      |CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 9 + 1 END AS INT) AS crawl_delay,
      |$RobotsAllowedSql AS allowed,
      |CAST(CASE WHEN doc_id % 4 = 0 THEN
      |  CASE WHEN doc_id % 5 = 0 THEN 3
      |       WHEN doc_id % 5 = 1 THEN CASE WHEN doc_id % 3 = 2 THEN 6 ELSE 5 END
      |       ELSE 0 END
      |ELSE CASE WHEN doc_id % 5 = 2 THEN CASE WHEN doc_id % 3 = 1 THEN 6 ELSE 3 END
      |     ELSE 0 END
      |END AS INT) AS match_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** RFC 3986 URL canonicalization driven end to end
    * (functions.UrlCanonical): per-doc raw URLs exercise every
    * normalization arm — mixed-case scheme/host, a percent-encoded
    * UNRESERVED letter in the host (%41 → a), explicit-default vs
    * non-default ports, dot segments, %7E → ~ in the path, an
    * unreserved escape in the query, empty-path → "/", and fragments —
    * while the oracle recomputes the canonical string, host, effective
    * port, and path closed-form from doc_id. A canonicalizer that
    * decodes a reserved character, keeps a default port, or mis-runs
    * remove_dot_segments reds out. Stateless per-row map, no shuffle —
    * the upstream key maker for URL-level dedup at crawl scale.
    */
  private[graft] def urlCanonicalize(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // typed map (stream-shareable), same discipline as robotsDecisions
    Par.widen(docs.select(col("doc_id")), col("doc_id")).as[Long].map { d =>
      val scheme = if (d % 2 == 0) "HTTP" else "HTTPS"
      // userinfo arm: %41 (unreserved 'A') must decode, %3d (reserved
      // '=') must stay encoded with UPPERCASED hex, and case is kept
      // (only scheme/host fold)
      val user = if (d % 13 == 0) "u%41ser.%3dpw@" else ""
      val port = if (d % 3 == 0) (if (d % 2 == 0) ":80" else ":443") else s":${8000 + d % 5}"
      val path = if (d % 11 == 0) "" else s"/a/./b${d % 4}/../c/%7Euser/d${d % 6}"
      val query = if (d % 3 == 0) "?z=1&a=%42" else ""
      val frag = if (d % 5 == 0) "#sec" else ""
      val raw = s"$scheme://${user}EX%41MPLE${d % 7}.COM$port$path$query$frag"
      val c = graft.functions.UrlCanonical.canonicalize(raw).get
      (d, raw, c.url, c.host, c.port, c.path, c.hadFragment)
    }.toDF("doc_id", "raw_url", "canon_url", "host", "port", "path", "had_fragment")
  }

  private[graft] val UrlCanonicalizeSql: String =
    """SELECT doc_id,
      |(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END)
      | || '://' || (CASE WHEN doc_id % 13 = 0 THEN 'u%41ser.%3dpw@' ELSE '' END)
      | || 'EX%41MPLE' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
      | || (CASE WHEN doc_id % 3 = 0 THEN CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
      |      ELSE ':' || CAST(8000 + doc_id % 5 AS VARCHAR) END)
      | || (CASE WHEN doc_id % 11 = 0 THEN ''
      |      ELSE '/a/./b' || CAST(doc_id % 4 AS VARCHAR) || '/../c/%7Euser/d' || CAST(doc_id % 6 AS VARCHAR) END)
      | || (CASE WHEN doc_id % 3 = 0 THEN '?z=1&a=%42' ELSE '' END)
      | || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS raw_url,
      |(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
      | || '://' || (CASE WHEN doc_id % 13 = 0 THEN 'uAser.%3Dpw@' ELSE '' END)
      | || 'example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
      | || (CASE WHEN doc_id % 3 = 0 THEN '' ELSE ':' || CAST(8000 + doc_id % 5 AS VARCHAR) END)
      | || (CASE WHEN doc_id % 11 = 0 THEN '/'
      |      ELSE '/a/c/~user/d' || CAST(doc_id % 6 AS VARCHAR) END)
      | || (CASE WHEN doc_id % 3 = 0 THEN '?z=1&a=B' ELSE '' END) AS canon_url,
      |'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
      |CAST(CASE WHEN doc_id % 3 = 0 THEN CASE WHEN doc_id % 2 = 0 THEN 80 ELSE 443 END
      |     ELSE 8000 + doc_id % 5 END AS INT) AS port,
      |CASE WHEN doc_id % 11 = 0 THEN '/'
      |     ELSE '/a/c/~user/d' || CAST(doc_id % 6 AS VARCHAR) END AS path,
      |doc_id % 5 = 0 AS had_fragment
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Sitemap discovery over synthetic sitemaps.org fixtures — the REAL
    * protocol parse path (functions.SitemapUrls) driven end to end per
    * document: every 7th doc gets a `<sitemapindex>` (1–3 child maps,
    * alternating lastmod), the rest a `<urlset>` (1–4 urls) whose
    * entries cycle every protocol arm — absent / valid / INVALID
    * changefreq (dropped to the default, not refused), in-range /
    * out-of-range priority (clamped to the 0.5 default), absent /
    * date-only / full-timestamp W3C lastmod — while the oracle
    * recomputes every field closed-form from doc_id. A parser that
    * refuses junk optional fields, mis-defaults, or loses the
    * index/urlset distinction reds out. Stateless per-row flatMap.
    */
  private[graft] def sitemapUrls(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val Vocab = Seq("always", "hourly", "daily", "weekly", "monthly", "yearly")
    Par.widen(docs.select(col("doc_id")), col("doc_id")).as[Long].flatMap { d =>
      val isIndex = d % 7 == 0
      val n = (if (isIndex) d % 3 + 1 else d % 4 + 1).toInt
      val xml = new StringBuilder
      if (isIndex) {
        xml.append("<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">")
        for (i <- 0 until n) {
          xml.append(s"<sitemap><loc> https://site${d % 5}.test/maps/$i.xml </loc>")
          if ((d + i) % 2 == 0) xml.append(s"<lastmod>2025-0${(d + i) % 9 + 1}-15</lastmod>")
          xml.append("</sitemap>")
        }
        xml.append("</sitemapindex>")
      } else {
        xml.append("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">")
        for (i <- 0 until n) {
          xml.append(s"<url><loc>https://site${d % 5}.test/page/$d/$i</loc>")
          if ((d + i) % 3 != 0)
            xml.append(if ((d + i) % 2 == 0) s"<lastmod>2025-04-0${(d + i) % 9 + 1}</lastmod>"
                       else s"<lastmod>2025-04-0${(d + i) % 9 + 1}T08:30:0${(d + i) % 10}+00:00</lastmod>")
          ((d + i) % 8).toInt match {
            case 0 => // changefreq absent
            case 7 => xml.append("<changefreq>sometimes</changefreq>") // invalid
            case k => xml.append(s"<changefreq>${Vocab(k - 1)}</changefreq>")
          }
          if ((d + i) % 13 == 0) xml.append("<priority>1.5</priority>") // out of range
          else xml.append(s"<priority>0.${(d + i) % 10}</priority>")
          xml.append("</url>")
        }
        xml.append("</urlset>")
      }
      val sm = graft.functions.SitemapUrls.parse(xml.toString).get
      sm.entries.zipWithIndex.map { case (e, i) =>
        (d, sm.isIndex, i, e.loc, e.lastmod, e.changefreq, e.priority)
      }
    }.toDF("doc_id", "is_index", "entry_i", "loc", "lastmod", "changefreq", "priority")
  }

  /** t_crawl_frontier's body over a caller-chosen BIGINT `host` key
    * (an expression over doc_id). The adversarial shape the bounded
    * heap exists for is host skew — one host owning half the crawl:
    * the heap's ≤ k-per-host-per-partition contract keeps the exchange
    * O(hosts·k) there, where a window sort would ship the giant host's
    * every url to one partition.
    */
  private[graft] def crawlFrontier(docs: org.apache.spark.sql.DataFrame,
                                   host: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val urls = sitemapUrls(docs).filter(!col("is_index"))
    val robots = robotsDecisions(docs.select(col("doc_id")))
      .filter(col("allowed")).select(col("doc_id"), col("crawl_delay"))
    val cand = urls.join(robots, "doc_id")
      .withColumn("item", col("doc_id") * 8 + col("entry_i"))
    val top = cand
      .select(host.as("h"), col("item"), col("priority"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKByScore(50).toColumn)
      .flatMap { case (_, hits) =>
        hits.zipWithIndex.map { case ((item, _), r) => (item, r + 1) }
      }
      .toDF("item", "crawl_rank")
    broadcast(top).join(cand, "item")
      .select(
        concat(lit("site"), host.cast("string"), lit(".test")).as("host"),
        col("crawl_rank"), col("loc"), col("priority"), col("crawl_delay"))
      .orderBy("host", "crawl_rank")
  }

  private[graft] val SitemapUrlsSql: String =
    """WITH n AS (SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN doc_id % 3 + 1 ELSE doc_id % 4 + 1 END AS n
      |  FROM documents),
      |e AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM n)
      |SELECT doc_id, doc_id % 7 = 0 AS is_index, CAST(i AS INT) AS entry_i,
      |CASE WHEN doc_id % 7 = 0
      |  THEN 'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.test/maps/' || CAST(i AS VARCHAR) || '.xml'
      |  ELSE 'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.test/page/' || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
      |END AS loc,
      |CASE WHEN doc_id % 7 = 0 THEN
      |  CASE WHEN (doc_id + i) % 2 = 0
      |    THEN '2025-0' || CAST((doc_id + i) % 9 + 1 AS VARCHAR) || '-15' END
      |ELSE
      |  CASE WHEN (doc_id + i) % 3 <> 0 THEN
      |    CASE WHEN (doc_id + i) % 2 = 0
      |      THEN '2025-04-0' || CAST((doc_id + i) % 9 + 1 AS VARCHAR)
      |      ELSE '2025-04-0' || CAST((doc_id + i) % 9 + 1 AS VARCHAR)
      |        || 'T08:30:0' || CAST((doc_id + i) % 10 AS VARCHAR) || '+00:00' END
      |  END
      |END AS lastmod,
      |CASE WHEN doc_id % 7 = 0 THEN ''
      |  ELSE CASE CAST((doc_id + i) % 8 AS INT)
      |    WHEN 0 THEN '' WHEN 7 THEN ''
      |    WHEN 1 THEN 'always' WHEN 2 THEN 'hourly' WHEN 3 THEN 'daily'
      |    WHEN 4 THEN 'weekly' WHEN 5 THEN 'monthly' ELSE 'yearly' END
      |END AS changefreq,
      |CASE WHEN doc_id % 7 = 0 THEN 0.5
      |  WHEN (doc_id + i) % 13 = 0 THEN 0.5
      |  ELSE CAST((doc_id + i) % 10 AS DOUBLE) / 10.0
      |END AS priority
      |FROM e ORDER BY doc_id, entry_i""".stripMargin

  /** CCNet's head/middle/tail scoring + partition (see the
    * t_ccnet_buckets registry entry for the paper mapping and the
    * <=-stability argument): unigram-surprisal scoring, tercile cuts as
    * a 1-row broadcast, low surprisal = head. The cuts are the exact
    * `percentile`, which the oracle recomputes.
    */
  private[graft] def ccnetBuckets(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r16 shuffle-shape fix: the surprisal join previously hash-
    // partitioned `toks` — the CORPUS, exploded to one row per token —
    // by term, the biggest exchange in the whole entry (and at 100 TB a
    // corpus-sized shuffle for a lookup against a vocabulary-sized
    // table). The unigram table now materializes once (it also feeds
    // the n_total aggregate, which previously re-ran its whole
    // aggregation subtree) and, under the house 16M-row broadcast
    // bound, ships to the scan as a broadcast hash join: the token
    // stream never shuffles, and the per-doc sum's map-side partial
    // aggregation sends only (doc_id, partial) onward. Past the bound
    // the original shuffle join is the fallback. The tokenize pass is
    // widened (single-split gate corpus).
    val toks = Par.widen(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val freq = toks.groupBy("term").agg(count(lit(1)).as("c"))
      // lazy: the bytes-bound aggregate below materializes it (one job)
      .localCheckpoint(false)
    // bytes-estimated broadcast bound (r17, advisor finding): freq rows
    // carry term STRINGS, so the 16M-ROW bound its long-only Dedup
    // precedents use would admit a multi-GB hashed relation into the
    // single 8 GiB JVM on a long-tailed vocabulary. Estimate the built
    // relation (~48 B/row of hash-table + row overhead, 2 B/char
    // UTF-16) from one cheap aggregate over the checkpoint leaf —
    // replacing the old count() action, not adding one — and bound at
    // 512 MB alongside the row cap. Plan-only decision: past either
    // bound the shuffle join computes the identical rows.
    val fs = freq.agg(count(lit(1)).as("n"), sum(length(col("term"))).as("chars")).head()
    val freqRows = fs.getLong(0)
    val freqChars = if (fs.isNullAt(1)) 0L else fs.getLong(1)
    val freqBounded = freqRows <= 16L * 1000 * 1000 &&
      freqRows * 48L + freqChars * 2L <= 512L * 1024 * 1024
    val totalDf = freq.agg(sum(col("c")).as("n_total"))
    // eagerly materialized (r16): `scored` feeds the tercile-cuts
    // aggregate AND the final bucketed projection — without the cut the
    // whole tokenize + freq-join + per-doc aggregate chain executes
    // twice per action (measured: two full parquet-scan→explode→join
    // subtrees in t_ccnet_buckets' plan; the freq checkpoint above only
    // cuts lineage BELOW freq). Same discipline as prepareWeb's
    // model-arm score frame; (doc_id, n_tokens, surprisal) is the
    // corpus at doc cardinality, 3 narrow columns — the standard
    // doc-level materialization every dedup stage already pays. Lazy:
    // the cuts aggregate below is a full scan and materializes it.
    val scored = toks.join(if (freqBounded) broadcast(freq) else freq, "term")
      .crossJoin(broadcast(totalDf))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           round(sum(-log2(col("c").cast("double") / col("n_total").cast("double")))
             / count(lit(1)), 4).as("surprisal"))
      .localCheckpoint(false)
    val cuts = scored.agg(
      expr("percentile(surprisal, 1.0D/3)").as("c1"),
      expr("percentile(surprisal, 2.0D/3)").as("c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens"), col("surprisal"),
        round(col("c1"), 4).as("cut_head"),
        round(col("c2"), 4).as("cut_tail"),
        when(col("surprisal") <= col("c1"), "head")
          .when(col("surprisal") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** CCNet scoring chain (DuckDB) over a (doc_id, text) source
    * relation, ending in `scored` (doc_id, n_tokens, surprisal) and
    * `cuts` (c1, c2) — shared by the t_ccnet_buckets oracle and
    * d_web_pipeline's bucketing stage (drift guard).
    */
  private[graft] def ccnetScoredCtesSql(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $src),
       |t2 AS (SELECT * FROM toks WHERE term <> ''),
       |freq AS (SELECT term, COUNT(*) AS c FROM t2 GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM freq),
       |scored AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |  ROUND(SUM(-log2(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)))
       |    / COUNT(*), 4) AS surprisal
       |  FROM t2 JOIN freq USING(term) CROSS JOIN tot
       |  GROUP BY doc_id),
       |cuts AS (SELECT quantile_cont(surprisal, 1.0/3) AS c1,
       |  quantile_cont(surprisal, 2.0/3) AS c2 FROM scored)""".stripMargin

  /** One scored document of [[gopherRepetition]]. */
  private[graft] final case class GopherRep(
      doc_id: Long, n_tokens: Long, total_chars: Long,
      top2_frac: Double, top3_frac: Double, top4_frac: Double,
      dup5_frac: Double, dup6_frac: Double, dup7_frac: Double,
      dup8_frac: Double, dup9_frac: Double, dup10_frac: Double)

  /** Gopher's repetition-removal battery (Rae et al. 2021, Table A1 /
    * Appendix A1.2 — the word-n-gram half; the line/paragraph half
    * needs multi-line text and lives in t_fineweb_rules' duplicate-line
    * rule and d_line_dedup):
    *
    *   - for n ∈ {2,3,4}: the fraction of characters contained in the
    *     MOST FREQUENT n-gram — count × gram token-chars / total
    *     token-chars (spaces uncounted on both sides; ties broken to
    *     the smallest gram in UTF-8 BYTE order — NOT fraction-neutral,
    *     since tied-count grams of different character length yield
    *     different fractions, but deterministic and mirrored exactly
    *     by the oracle's `ORDER BY cnt DESC, gram` under DuckDB's
    *     binary collation: the Scala side compares UTF-8 bytes rather
    *     than UTF-16 code units so non-ASCII grams cannot diverge);
    *   - for n ∈ {5..10}: the fraction of characters contained in
    *     DUPLICATED n-grams — a token's characters count once if ANY
    *     occurrence of ANY duplicated n-gram covers its position
    *     (position marking, not count×len: overlapping duplicates must
    *     not double-count, the published implementation's semantics).
    *
    * Thresholds (paper Table A1) apply to the 4dp-ROUNDED fraction in
    * both engines (the ratios are divisions of exact BIGINTs, so the
    * rounded doubles are bit-identical cross-engine): top {0.20, 0.18,
    * 0.16}, dup {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}.
    *
    * Shape: the scan is a typed mapPartitions — per-doc hash-count +
    * position-mark loops, O(tokens·n) work that interpreted SQL
    * lambdas would pay ~10× for (the d_winnow_dedup lesson) — so the
    * operator is row-local and partitions embarrassingly; the oracle
    * recomputes everything SET-BASED (unnest → group → range join),
    * which is the cheap formulation for a single-node gate but would
    * shuffle the corpus nine times at scale.
    */
  /** The per-document A1.2 scorer — ONE definition shared by
    * [[gopherRepetition]]'s typed map and prepareWeb's inlined
    * filter_gopher_rep stage predicate ([[gopherRepPassOf]]), so the
    * inline filter cannot drift from the oracle-gated entry.
    */
  private[graft] def gopherRepScore(id: Long, text: String): GopherRep = {
          val toks = text.split(" ").filter(_.nonEmpty)
          val m = toks.length
          val totalChars = toks.iterator.map(_.length.toLong).sum
          val denom = math.max(totalChars, 1L).toDouble
          def grams(n: Int): Array[String] =
            if (m < n) Array.empty
            else Array.tabulate(m - n + 1)(i => toks.slice(i, i + n).mkString(" "))
          def counts(gs: Array[String]): java.util.HashMap[String, Int] = {
            val c = new java.util.HashMap[String, Int](gs.length * 2)
            gs.foreach(g => c.merge(g, 1, Integer.sum))
            c
          }
          // UTF-8 byte order — DuckDB's binary collation, so the argmax
          // tiebreak below picks the same gram both engines even on
          // non-ASCII (astral) grams where UTF-16 code-unit order flips
          def utf8Less(a: String, b: String): Boolean =
            java.util.Arrays.compareUnsigned(
              a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
          def topFrac(n: Int): Double = {
            val gs = grams(n)
            if (gs.isEmpty) 0.0
            else {
              val c = counts(gs)
              var bestG: String = null
              var bestC = 0
              c.forEach { (g, k) =>
                if (k > bestC || (k == bestC && utf8Less(g, bestG))) { bestG = g; bestC = k }
              }
              val gchars = (bestG.length - (n - 1)).toLong
              bestC.toLong * gchars / denom
            }
          }
          def dupFrac(n: Int): Double = {
            val gs = grams(n)
            if (gs.isEmpty) 0.0
            else {
              val c = counts(gs)
              val marked = new Array[Boolean](m)
              var i = 0
              while (i < gs.length) {
                if (c.get(gs(i)) > 1) {
                  var j = i
                  while (j < i + n) { marked(j) = true; j += 1 }
                }
                i += 1
              }
              var dchars = 0L
              var j = 0
              while (j < m) { if (marked(j)) dchars += toks(j).length; j += 1 }
              dchars / denom
            }
          }
          GopherRep(id, m.toLong, totalChars,
            topFrac(2), topFrac(3), topFrac(4),
            dupFrac(5), dupFrac(6), dupFrac(7),
            dupFrac(8), dupFrac(9), dupFrac(10))
  }

  /** The A1.2 `pass` conjunction over a scored doc — EXACTLY the frame
    * version's `round(frac, 4) <= threshold` per rule: Spark SQL's
    * round on DOUBLE is BigDecimal HALF_UP (the fitQualityWeights
    * cross-engine convention), reproduced here bit-for-bit.
    */
  private[graft] def gopherRepPassOf(g: GopherRep): Boolean = {
    def r4(v: Double): Double =
      BigDecimal.valueOf(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fracs = Map(
      "top2_frac" -> g.top2_frac, "top3_frac" -> g.top3_frac,
      "top4_frac" -> g.top4_frac, "dup5_frac" -> g.dup5_frac,
      "dup6_frac" -> g.dup6_frac, "dup7_frac" -> g.dup7_frac,
      "dup8_frac" -> g.dup8_frac, "dup9_frac" -> g.dup9_frac,
      "dup10_frac" -> g.dup10_frac)
    GopherRepCols.forall { case (c, thr) => r4(fracs(c)) <= thr }
  }

  private[graft] def gopherRepetition(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Par.widen(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => gopherRepScore(id, text) })
      .toDF()
      .select(
        Seq(col("doc_id"), col("n_tokens"), col("total_chars")) ++
          GopherRepCols.map { case (c, _) => round(col(c), 4).as(c) } ++
          GopherRepCols.map { case (c, thr) =>
            (round(col(c), 4) <= thr).as(s"pass_${c.stripSuffix("_frac")}")
          } :+
          GopherRepCols.map { case (c, thr) => round(col(c), 4) <= thr }
            .reduce(_ && _).as("pass"): _*)
  }

  /** (column, paper threshold) for each A1.2 word-n-gram rule. */
  private[graft] val GopherRepCols: Seq[(String, Double)] = Seq(
    "top2_frac" -> 0.20, "top3_frac" -> 0.18, "top4_frac" -> 0.16,
    "dup5_frac" -> 0.15, "dup6_frac" -> 0.14, "dup7_frac" -> 0.13,
    "dup8_frac" -> 0.12, "dup9_frac" -> 0.11, "dup10_frac" -> 0.10)

  private def gopherRepSrcCol(c: String): String =
    if (c.startsWith("top")) s"t${c(3)}" else s"d${c.drop(3).stripSuffix("_frac")}"

  private def gopherRepFrac(col: String): String =
    s"ROUND(CAST(COALESCE($col, 0) AS DOUBLE) / GREATEST(b.total_chars, 1), 4)"

  /** The A1.2 pass conjunction over the pivoted tp/dp columns —
    * generated from [[GopherRepCols]] (shared by the standalone oracle
    * and d_web_pipeline's stage CTE).
    */
  private[graft] val GopherRepPassCondSql: String =
    GopherRepCols.map { case (c, thr) =>
      s"${gopherRepFrac(gopherRepSrcCol(c))} <= CAST($thr AS DOUBLE)"
    }.mkString("(", ")\n  AND (", ")")

  /** DuckDB CTE chain of [[gopherRepetition]]'s metrics over a source
    * relation, SET-BASED (unnest → count → argmax window →
    * position-marking range join) — the cheap single-node formulation
    * of the same semantics. CTE names carry `prefix` so composites can
    * embed the chain without colliding with their own CTEs. Ends in
    * `${prefix}base` / `${prefix}tp` / `${prefix}dp` — callers select
    * fractions (or the pass condition) by aliasing base as `b`.
    */
  private[graft] def gopherRepCtesSql(src: String, prefix: String = ""): String = {
    val P = prefix
    val tp = Seq(2, 3, 4).map(n =>
      s"MAX(CASE WHEN n = $n THEN cnt * gchars END) AS t$n").mkString(",\n  ")
    val dp = (5 to 10).map(n =>
      s"MAX(CASE WHEN n = $n THEN dchars END) AS d$n").mkString(",\n  ")
    s"""${P}t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM $src),
       |${P}base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS m,
       |  CAST(coalesce(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS total_chars
       |  FROM ${P}t),
       |${P}tok AS (SELECT doc_id, i AS j, CAST(length(toks[i + 1]) AS BIGINT) AS wlen
       |  FROM ${P}base, LATERAL (SELECT unnest(generate_series(0, m - 1)) AS i) s),
       |${P}g AS (SELECT doc_id, n, i,
       |    array_to_string(list_slice(toks, i + 1, i + n), ' ') AS gram
       |  FROM ${P}base,
       |    LATERAL (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n) ns,
       |    LATERAL (SELECT unnest(generate_series(0, m - n)) AS i) gi
       |  WHERE m >= n),
       |${P}c AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM ${P}g GROUP BY 1, 2, 3),
       |${P}top AS (SELECT doc_id, n, cnt, CAST(length(gram) - (n - 1) AS BIGINT) AS gchars
       |  FROM (SELECT doc_id, n, gram, cnt,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) AS rn
       |    FROM ${P}c) WHERE rn = 1 AND n <= 4),
       |${P}duppos AS (SELECT g.doc_id, g.n, g.i FROM ${P}g g
       |  JOIN ${P}c c ON g.doc_id = c.doc_id AND g.n = c.n AND g.gram = c.gram
       |  WHERE c.cnt > 1 AND g.n >= 5),
       |${P}mk AS (SELECT DISTINCT d.doc_id, d.n, t2.j, t2.wlen FROM ${P}duppos d
       |  JOIN ${P}tok t2 ON t2.doc_id = d.doc_id AND t2.j BETWEEN d.i AND d.i + d.n - 1),
       |${P}mc AS (SELECT doc_id, n, CAST(SUM(wlen) AS BIGINT) AS dchars FROM ${P}mk GROUP BY 1, 2),
       |${P}tp AS (SELECT doc_id,
       |  $tp
       |  FROM ${P}top GROUP BY 1),
       |${P}dp AS (SELECT doc_id,
       |  $dp
       |  FROM ${P}mc GROUP BY 1)""".stripMargin
  }

  /** DuckDB twin of [[gopherRepetition]] — assembled from
    * [[gopherRepCtesSql]] + [[GopherRepPassCondSql]] so the standalone
    * entry and the d_web_pipeline stage share one rule text.
    */
  private[graft] val GopherRepetitionSql: String = {
    val fracCols = GopherRepCols.map { case (c, _) =>
      s"${gopherRepFrac(gopherRepSrcCol(c))} AS $c"
    }.mkString(",\n")
    val passCols = GopherRepCols.map { case (c, thr) =>
      s"${gopherRepFrac(gopherRepSrcCol(c))} <= CAST($thr AS DOUBLE) AS pass_${c.stripSuffix("_frac")}"
    }.mkString(",\n")
    s"""WITH ${gopherRepCtesSql("documents")}
       |SELECT b.doc_id, b.m AS n_tokens, b.total_chars,
       |$fracCols,
       |$passCols,
       |$GopherRepPassCondSql AS pass
       |FROM base b LEFT JOIN tp USING (doc_id) LEFT JOIN dp USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** WIMBD-style corpus profile (t_wimbd_stats) — shared by the
    * registry entry and WimbdStatsSpec's hand-checked crafted corpus
    * so the spec cannot drift from the gate.
    */
  private[graft] def wimbdStats(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = d.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
    val termAgg = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val top = termAgg.orderBy(desc("c"), asc("term")).limit(1)
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct_texts"))
    val tokStats = perDoc.agg(
      sum("n_tokens").as("total_tokens"),
      round(avg(col("n_tokens")), 4).as("mean_tokens"),
      round(expr("percentile(n_tokens, 0.5D)"), 4).as("p50_tokens"),
      round(expr("percentile(n_tokens, 0.9D)"), 4).as("p90_tokens"))
    val vocab = termAgg.agg(count(lit(1)).as("vocab_size"), sum("c").as("vsum"))
    base.crossJoin(tokStats).crossJoin(vocab).crossJoin(top)
      .select(col("n_docs"), col("n_distinct_texts"), col("total_tokens"),
        col("mean_tokens"), col("p50_tokens"), col("p90_tokens"),
        col("vocab_size"), col("term").as("top_term"),
        round(col("c").cast("double") / col("vsum"), 4).as("top_term_share"))
  }

  /** Offline-fit hashed CCNet scorer model: per-md5-bucket token
    * counts (4096 slots, the dsirModelLogRatios convention) plus the
    * corpus token total — the bounded stand-in for the exact term
    * table a STREAMING scorer cannot hold (CCNet itself scores with a
    * fixed offline LM; the hashed-bucket table is that shape). 4096
    * longs + 1 — a fixed 32 KB model pull, not data movement.
    */
  private[graft] def ccnetHashedModel(d: org.apache.spark.sql.DataFrame): (Array[Long], Long) = {
    val rows = d.select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
      .select(expr("substring(md5(term), 1, 3)").as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
      .collect()
    val counts = new Array[Long](4096)
    rows.foreach(r => counts(Integer.parseInt(r.getString(0), 16)) = r.getLong(1))
    (counts, counts.sum)
  }

  /** Model-based quality scoring (the FineWeb-Edu pattern — the third
    * leg beside the rule batteries and the perplexity scorers): a
    * logistic-regression classifier over the 4096-bucket hashed
    * unigram features (the dsirModelLogRatios / ccnetHashedModel
    * convention, md5 3-hex-char buckets + a bias slot), trained by
    * `steps` unrolled FULL-BATCH gradient-descent steps with weak
    * labels from the Gopher rule battery (stop floor 1, prepareWeb's
    * gate). Deterministic by construction — no sampling, no seed — so
    * the DuckDB oracle recomputes the identical training as chained
    * CTEs exactly like d_link_authority's power iterations; per-step
    * sums of doubles are summation-order dependent cross-engine, so
    * the output carries that entry's round(6) contract.
    *
    * Scale shape: the (doc_id, bucket, x) feature frame is persisted
    * once and each step is two map-side-combined hash aggregates over
    * it (margins by doc, gradient by bucket) with the ≤4097-row
    * weight table broadcast back — the standard distributed
    * full-batch GD shape; the only driver-side values are the weight
    * table itself (the ccnetHashedModel bounded-collect convention —
    * a fixed ≤32 KB model pull per step, never data movement) and the
    * one corpus count that normalizes the gradient.
    */
  private[graft] val QualityModelLr = 10.0

  /** Hashed feature frame (doc_id, b, x) of a (doc_id, text) corpus —
    * relative term-frequency per 4096-slot md5 bucket + a bias slot
    * (every doc has the bias row, so margins cover the full corpus) +
    * a capped-length slot: relative frequencies NORMALIZE length
    * away, yet document length is the dominant signal of every rule
    * battery (the Gopher word floor) — without it the classifier can
    * only see vocabulary. Shared by training, batch/stream scoring,
    * and the oracle twins.
    */
  private[graft] def qualityModelFeatures(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r16: ONE tokenize pass, widened. The old shape ran the
    // explode+split twice (bucket counts AND per-doc token totals were
    // each their own corpus scan) and, on the single-split gate corpus,
    // single-core; nt ≡ Σ_b c (every token lands in exactly one md5
    // bucket), so the totals now derive from the already-aggregated
    // counts frame — a corpus-pass saved at any scale. Par.widen is a
    // no-op on an already-wide input.
    val toks = Par.widen(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
    val counts = toks
      .select(col("doc_id"), expr("substring(md5(term), 1, 3)").as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val nTok = counts.groupBy("doc_id").agg(sum(col("c")).as("nt"))
    counts.join(nTok, "doc_id")
      .select(col("doc_id"), col("b"),
        (col("c").cast("double") / col("nt").cast("double")).as("x"))
      .unionByName(docs.select(col("doc_id"), lit("bias").as("b"), lit(1.0).as("x")))
      .unionByName(nTok.select(col("doc_id"), lit("len").as("b"),
        (least(col("nt"), lit(200L)).cast("double") / 200.0).as("x")))
  }

  /** prepareWeb's re-thresholded Gopher pass (stop floor 1) as a
    * predicate over [[gopherRules]]' output columns — shared by the
    * weak labels, prepareWeb's filter_gopher stage, and the stream
    * scorer so the gate cannot drift between them.
    */
  private[graft] def gopherWeakPassCond: org.apache.spark.sql.Column =
    col("pass_words") && col("pass_mean_len") && col("pass_symbol") &&
      col("pass_bullet") && col("pass_ellipsis") && col("pass_alpha") &&
      col("stop_hits") >= 1

  /** Gopher-pass weak labels (doc_id, y) — prepareWeb's re-thresholded
    * gate (stop floor 1), the classifier's training signal.
    */
  private[graft] def qualityModelLabels(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    gopherRules(docs).select(col("doc_id"),
      when(gopherWeakPassCond, 1.0).otherwise(0.0).as("y"))

  /** `steps` unrolled full-batch GD steps over a PERSISTED
    * (doc_id, b, x, y) frame. Each step's weights ROUND to 12 decimal
    * places — the shared cross-engine contract (the DuckDB oracle
    * rounds identically), so per-step double-sum summation-order
    * divergence collapses at every step instead of compounding
    * through the weight vector; Scala BigDecimal HALF_UP is the same
    * convention Spark SQL's round applies.
    */
  private def fitQualityWeights(fl: org.apache.spark.sql.DataFrame,
                                docs: org.apache.spark.sql.DataFrame,
                                steps: Int, lr: Double): Map[String, Double] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = docs.count().toDouble
    var w: Map[String, Double] = Map.empty // all-zero weights
    for (_ <- 1 to steps) {
      val margins =
        if (w.isEmpty) docs.select(col("doc_id"), lit(0.0).as("m"))
        else fl.join(broadcast(w.toSeq.toDF("b", "wv")), "b")
          .groupBy("doc_id").agg(sum(col("wv") * col("x")).as("m"))
      val grad = fl.join(margins, "doc_id")
        .select(col("b"),
          ((lit(1.0) / (lit(1.0) + exp(-col("m"))) - col("y")) * col("x")).as("g"))
        .groupBy("b").agg(sum(col("g")).as("gs"))
        .as[(String, Double)].collect() // ≤ 4097 rows by construction
      w = grad.map { case (b, gs) =>
        b -> BigDecimal.valueOf(w.getOrElse(b, 0.0) - lr * gs / n)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    w
  }

  /** The persisted (doc_id, b, x, y) training frame — ONE definition
    * shared by the entry, the weights-only fits, and the
    * labels-precomputed variant, so a feature/label change cannot
    * silently diverge the gate entry from the deployment paths.
    */
  private def qualityModelTrainingFrame(docs: org.apache.spark.sql.DataFrame,
                                        labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // eager localCheckpoint, not persist (r17): each GD step's gradient
    // query references this frame TWICE (margins subquery + gradient
    // join), and a persisted frame still re-plans its FULL lineage
    // (tokenize + md5 buckets + label battery) per step — the measured
    // ~1.2 s of driver latency between the bounded weight collects. A
    // checkpoint leaf plans in milliseconds. Data and partitioning are
    // identical to what persist materialized (same physical plan runs
    // once), so the 12-dp per-step rounding contract sees the same
    // sums; blocks release via the context cleaner when the frame drops.
    // Lazy: the first GD step's full-scan gradient collect materializes
    // it — one job fewer than eager-then-read.
    qualityModelFeatures(docs).join(labels, "doc_id").localCheckpoint(false)

  /** Fit the quality-model weights over a (doc_id, text) corpus —
    * the offline half of the deployment split: prepareWeb's model arm
    * and the st_quality_model stream twin train here, then score a
    * different (or arriving) frame with [[qualityModelScores]].
    */
  private[graft] def qualityModelWeights(docs: org.apache.spark.sql.DataFrame,
                                         steps: Int = 3,
                                         lr: Double = QualityModelLr): Map[String, Double] =
    qualityModelWeightsWithLabels(docs, qualityModelLabels(docs), steps, lr)

  /** [[qualityModelWeights]] with the (doc_id, y) weak labels supplied
    * by the caller — prepareWeb's model arm already HAS the gopher
    * pass set as a checkpointed stage, so re-running the rule battery
    * for the labels would pay the split/regex pass twice.
    */
  private[graft] def qualityModelWeightsWithLabels(docs: org.apache.spark.sql.DataFrame,
                                                   labels: org.apache.spark.sql.DataFrame,
                                                   steps: Int = 3,
                                                   lr: Double = QualityModelLr): Map[String, Double] = {
    // no unpersist: the training frame is a localCheckpoint leaf now —
    // its blocks are context-cleaned when the frame drops
    fitQualityWeights(qualityModelTrainingFrame(docs, labels), docs, steps, lr)
  }

  /** Score a (doc_id, text) frame against fitted weights →
    * (doc_id, score). Sound for any frame whose vocabulary buckets
    * appear in the training corpus (prepareWeb scores a SUBSET of its
    * training frame, so the inner weight join drops nothing); a
    * bucket absent from training carries weight 0 there and is
    * dropped here — the same contribution.
    */
  private[graft] def qualityModelScores(docs: org.apache.spark.sql.DataFrame,
                                        w: Map[String, Double]): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    qualityModelFeatures(docs)
      .join(broadcast(w.toSeq.toDF("b", "wv")), "b")
      .groupBy("doc_id").agg(sum(col("wv") * col("x")).as("m"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("m"))), 6).as("score"))
  }

  /** prepareWeb's model arm, fused (r17): fit on (docs, labels) and
    * score a doc_id SUBSET of the SAME corpus straight from the
    * already-checkpointed training frame. qualityModelScores would
    * re-derive the feature frame (tokenize + md5 buckets + two
    * aggregates) for the survivors even though their (doc_id, b, x)
    * rows sit verbatim in the training checkpoint — features are
    * per-doc deterministic and the survivor set is a subset of the
    * training corpus, so one id semi join replaces the whole second
    * feature derivation. The semi join broadcasts under the house
    * 16M-row id bound (`nScoreIds`, the caller's already-known stage
    * count) and shuffles past it. Same output contract as
    * qualityModelScores (round-6 sigmoid scores).
    */
  private[graft] def qualityModelFitScoreSubset(docs: org.apache.spark.sql.DataFrame,
                                                labels: org.apache.spark.sql.DataFrame,
                                                scoreIds: org.apache.spark.sql.DataFrame,
                                                nScoreIds: Long): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fl = qualityModelTrainingFrame(docs, labels)
    val w = fitQualityWeights(fl, docs, steps = 3, lr = QualityModelLr)
    val ids = scoreIds.select(col("doc_id"))
    fl.join(if (nScoreIds >= 0 && nScoreIds <= 16L * 1000 * 1000) broadcast(ids) else ids,
        Seq("doc_id"), "left_semi")
      .join(broadcast(w.toSeq.toDF("b", "wv")), "b")
      .groupBy("doc_id").agg(sum(col("wv") * col("x")).as("m"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("m"))), 6).as("score"))
  }

  private[graft] def qualityModel(docs: org.apache.spark.sql.DataFrame,
                                  steps: Int = 3,
                                  lr: Double = QualityModelLr): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fl = qualityModelTrainingFrame(docs, qualityModelLabels(docs))
    val w = fitQualityWeights(fl, docs, steps, lr)
    val out = fl.join(broadcast(w.toSeq.toDF("b", "wv")), "b")
      .groupBy("doc_id")
      .agg(max(col("y")).as("y"), sum(col("wv") * col("x")).as("m"))
      .select(col("doc_id"), (col("y") === 1.0).as("label"),
        round(lit(1.0) / (lit(1.0) + exp(-col("m"))), 6).as("score"))
    Materialize(out, fl)
  }

  /** DuckDB twin of [[qualityModelWeights]] as composable CTEs over
    * `src` (doc_id, text), every name `$p`-prefixed: defines
    * `${p}lab` (the weak labels), `${p}fl` (features + labels) and
    * `${p}w3` (the final weight table), rounding each step's weights
    * to 12 decimals — the shared contract fitQualityWeights applies.
    * Shared by the t_quality_model / st_quality_model gates and the
    * d_web_pipeline_model composite so the training recomputation
    * cannot drift between them.
    */
  private[graft] def qualityModelWeightsCtesSql(src: String, p: String): String = {
    val steps = (2 to 3).map { k =>
      s"""${p}m$k AS MATERIALIZED (SELECT doc_id, SUM(w * x) AS m
         |  FROM ${p}fl JOIN ${p}w${k - 1} USING (b) GROUP BY 1),
         |${p}g$k AS MATERIALIZED (SELECT ${p}fl.b, SUM((1.0 / (1.0 + exp(-m)) - y) * x) AS gs
         |  FROM ${p}fl JOIN ${p}m$k USING (doc_id) GROUP BY 1),
         |${p}w$k AS MATERIALIZED (SELECT b, ROUND(w - $QualityModelLr * gs / n, 12) AS w
         |  FROM ${p}w${k - 1} JOIN ${p}g$k USING (b) CROSS JOIN ${p}nn),""".stripMargin
    }.mkString("\n")
    s"""${p}toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $src),
       |${p}t2 AS (SELECT doc_id, term FROM ${p}toks WHERE term <> ''),
       |${p}cnt AS (SELECT doc_id, substr(md5(term), 1, 3) AS b,
       |  CAST(COUNT(*) AS BIGINT) AS c FROM ${p}t2 GROUP BY 1, 2),
       |${p}ntk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM ${p}t2 GROUP BY 1),
       |${p}feat AS MATERIALIZED (
       |  SELECT doc_id, b, CAST(c AS DOUBLE) / CAST(nt AS DOUBLE) AS x
       |  FROM ${p}cnt JOIN ${p}ntk USING (doc_id)
       |  UNION ALL
       |  SELECT doc_id, 'bias' AS b, CAST(1.0 AS DOUBLE) AS x FROM $src
       |  UNION ALL
       |  SELECT doc_id, 'len' AS b, CAST(LEAST(nt, 200) AS DOUBLE) / 200.0 AS x FROM ${p}ntk),
       |${p}gm AS (SELECT doc_id,
       |  $GopherMetricColsSql
       |  FROM $src),
       |${p}lab AS MATERIALIZED (SELECT doc_id,
       |  CASE WHEN ${gopherPassCondSql(1)}
       |  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y FROM ${p}gm),
       |${p}nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM $src),
       |${p}fl AS MATERIALIZED (SELECT f.doc_id, f.b, f.x, l.y
       |  FROM ${p}feat f JOIN ${p}lab l USING (doc_id)),
       |${p}g1 AS MATERIALIZED (SELECT b, SUM((0.5 - y) * x) AS gs FROM ${p}fl GROUP BY 1),
       |${p}w1 AS MATERIALIZED (SELECT b, ROUND(0.0 - $QualityModelLr * gs / n, 12) AS w
       |  FROM ${p}g1 CROSS JOIN ${p}nn),
       |$steps
       |${p}w3x AS (SELECT * FROM ${p}w3)""".stripMargin
  }

  /** Full t_quality_model oracle (train + score + label over the
    * documents table) — shared verbatim by the st_quality_model
    * stream twin's gate, so the STREAM output is itself hash-gated
    * against the independent DuckDB training recomputation.
    */
  private[graft] lazy val QualityModelSql: String =
    s"""WITH ${qualityModelWeightsCtesSql("documents", "qm")},
       |mf AS MATERIALIZED (SELECT doc_id, SUM(w * x) AS m
       |  FROM qmfl JOIN qmw3 USING (b) GROUP BY 1)
       |SELECT l.doc_id, l.y = 1.0 AS label,
       |ROUND(1.0 / (1.0 + exp(-m)), 6) AS score
       |FROM qmlab l JOIN mf USING (doc_id) ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[qualityModelScores]]: scores `src` (doc_id,
    * text) against the `${wp}w3` weight table fitted by
    * [[qualityModelWeightsCtesSql]] (prefix `wp`); defines
    * `${p}scored` (doc_id, score).
    */
  private[graft] def qualityModelScoreCtesSql(src: String, wp: String, p: String): String =
    s"""${p}stoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $src),
       |${p}st2 AS (SELECT doc_id, term FROM ${p}stoks WHERE term <> ''),
       |${p}scnt AS (SELECT doc_id, substr(md5(term), 1, 3) AS b,
       |  CAST(COUNT(*) AS BIGINT) AS c FROM ${p}st2 GROUP BY 1, 2),
       |${p}sntk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM ${p}st2 GROUP BY 1),
       |${p}sfeat AS MATERIALIZED (
       |  SELECT doc_id, b, CAST(c AS DOUBLE) / CAST(nt AS DOUBLE) AS x
       |  FROM ${p}scnt JOIN ${p}sntk USING (doc_id)
       |  UNION ALL
       |  SELECT doc_id, 'bias' AS b, CAST(1.0 AS DOUBLE) AS x FROM $src
       |  UNION ALL
       |  SELECT doc_id, 'len' AS b, CAST(LEAST(nt, 200) AS DOUBLE) / 200.0 AS x FROM ${p}sntk),
       |${p}scored AS MATERIALIZED (SELECT doc_id,
       |  ROUND(1.0 / (1.0 + exp(-m)), 6) AS score
       |  FROM (SELECT doc_id, SUM(w * x) AS m
       |        FROM ${p}sfeat JOIN ${wp}w3 USING (b) GROUP BY 1))""".stripMargin

  /** t_sequence_pack's plan body, parameterized by the bucket dial
    * (the entry passes the derived/guarded count; PackBucketsSpec
    * drives other dials through here).
    */
  private[graft] def sequencePack(docs: org.apache.spark.sql.DataFrame,
                                  buckets: Int): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), pmod(col("doc_id"), lit(buckets.toLong)).as("bucket"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"))
      .withColumn("bin",
        expr("CAST((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tokens) div 2048 AS BIGINT)"))
      .groupBy("bucket", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))

  /** Sliding-window chunk projection shared by batch (t_chunk_overlap)
    * and streaming (st_chunk_overlap): 256-char windows at 192-char
    * stride, md5-content-addressed. STATELESS sequence+explode+substring
    * — the same plan serves both engines, so stream/batch parity is
    * structural, not re-implemented. No ordering here (a streaming frame
    * cannot sort); batch callers add their own ORDER BY.
    */
  private[graft] def chunkOverlap(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("text"))
      .select(col("doc_id"), col("text"),
        explode(expr(
          "sequence(0, CAST(ceil(greatest(length(text) - 256, 0) / 192.0) AS BIGINT))"))
          .as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        (col("chunk_id") * 192).as("start"),
        expr("CAST(length(substring(text, CAST(chunk_id * 192 + 1 AS INT), 256)) AS BIGINT)")
          .as("chunk_chars"),
        expr("md5(substring(text, CAST(chunk_id * 192 + 1 AS INT), 256))").as("chunk_md5"))

  /** Chunk oracle, shared by the batch entry and its streaming twin
    * (identical rows by construction — the stream is the same plan).
    */
  private[graft] val ChunkOverlapSql: String =
    """SELECT doc_id, gs.chunk_id, gs.chunk_id * 192 AS start,
      |CAST(length(substring(text, CAST(gs.chunk_id * 192 + 1 AS INT), 256)) AS BIGINT) AS chunk_chars,
      |md5(substring(text, CAST(gs.chunk_id * 192 + 1 AS INT), 256)) AS chunk_md5
      |FROM documents, LATERAL (SELECT unnest(generate_series(0,
      |  CAST(ceil(greatest(length(text) - 256, 0) / 192.0) AS BIGINT))) AS chunk_id) gs
      |ORDER BY doc_id, chunk_id""".stripMargin

  override def entries: Seq[QueryDef] = Seq(
    QueryDef(
      "t_token_count",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(col("lang"), col("n_chars"),
                 expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_tokens")).as("total_tokens"),
               round(sum(col("n_tokens")).cast("double") / count(lit(1)), 4).as("avg_tokens"),
               max(col("n_chars")).as("max_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
             |ROUND(CAST(SUM(len(string_split(text,' '))) AS DOUBLE)/COUNT(*),4) AS avg_tokens,
             |MAX(n_chars) AS max_chars
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    QueryDef(
      "t_quality_score",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(
            col("doc_id"),
            expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"),
            expr(s"CAST(size(filter(split(text, ' '), w -> w IN $Stop)) AS BIGINT)").as("n_stop"),
            expr("CAST(length(regexp_replace(text, '[^a-z]', '')) AS BIGINT)").as("n_alpha"),
            length(col("text")).cast("bigint").as("n_len"))
          .select(
            col("doc_id"), col("n_tokens"),
            round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stop_ratio"),
            round(col("n_alpha").cast("double") / col("n_len"), 4).as("alpha_ratio"),
            round(least(lit(1.0), col("n_tokens").cast("double") / 200.0) * 0.5 +
              (col("n_stop").cast("double") / col("n_tokens")) * 0.2 +
              (col("n_alpha").cast("double") / col("n_len")) * 0.3, 4).as("quality"))
          .orderBy("doc_id")
      },
      Some(s"""WITH m AS (SELECT doc_id,
              |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
              |  CAST(len(list_filter(string_split(text,' '), w -> w IN $Stop)) AS BIGINT) AS n_stop,
              |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
              |  CAST(length(text) AS BIGINT) AS n_len
              |  FROM documents)
              |SELECT doc_id, n_tokens,
              |ROUND(CAST(n_stop AS DOUBLE)/n_tokens, 4) AS stop_ratio,
              |ROUND(CAST(n_alpha AS DOUBLE)/n_len, 4) AS alpha_ratio,
              |ROUND(LEAST(1.0, CAST(n_tokens AS DOUBLE)/200.0)*0.5
              |  + (CAST(n_stop AS DOUBLE)/n_tokens)*0.2
              |  + (CAST(n_alpha AS DOUBLE)/n_len)*0.3, 4) AS quality
              |FROM m ORDER BY doc_id""".stripMargin),
    ),
    // the published Gopher/MassiveText document filter (metrics + per-
    // rule flags + conjunctive pass), closed-form oracled both sides
    QueryDef(
      "t_gopher_rules",
      (s, dir) => gopherRules(Tables(s, dir).documents).orderBy("doc_id"),
      Some(s"$GopherRulesSql\nORDER BY doc_id"),
    ),
    // the C4 structural filter (kept-line rules + sentence floor +
    // lorem-ipsum/brace page rules), closed-form oracled both sides
    QueryDef(
      "t_c4_rules",
      (s, dir) => c4Rules(c4PageTable(Tables(s, dir).documents)).orderBy("doc_id"),
      Some(s"$C4RulesSql\nORDER BY doc_id"),
    ),
    // the three published FineWeb custom heuristics (punct-line floor,
    // duplicated-line char cap, short-line cap), closed-form oracled
    QueryDef(
      "t_fineweb_rules",
      (s, dir) => finewebRules(fwPageTable(Tables(s, dir).documents)).orderBy("doc_id"),
      Some(s"$FinewebRulesSql\nORDER BY doc_id"),
    ),
    QueryDef(
      "t_fingerprint",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(col("doc_id"),
                 graft.functions.TextFp.bagOfWords(col("text")).as("fp"))
          .groupBy("fp")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .orderBy("fp")
      },
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp,
             |COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    QueryDef(
      "t_top_terms",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("term")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("term"))
          .limit(20)
      },
      Some("""SELECT term, COUNT(*) AS n FROM (
             |  SELECT unnest(string_split(text,' ')) AS term FROM documents)
             |WHERE term <> '' GROUP BY 1 ORDER BY n DESC, term LIMIT 20""".stripMargin),
    ),
    // SKETCHED corpus top terms: mergeable Misra-Gries summary (capacity
    // 256) as a typed partial aggregate — the exchange carries one
    // k-entry summary per partition instead of shuffling the full term
    // dictionary like t_top_terms. Rows-only (counts are lower bounds
    // with error ≤ N/(k+1), no DuckDB twin); HeavyHittersSpec pins
    // exactness at small vocab, the undercount bound, heavy-term
    // presence on an adversarial corpus, and the partial-aggregate plan.
    QueryDef(
      "t_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val toks = Tables(s, dir).documents
          .select(explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "").as[String]
        toks.select(new graft.functions.HeavyHitters(256).toColumn.name("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e._1").as("term"), col("e._2").as("est_count"))
          .orderBy(desc("est_count"), asc("term"))
          .limit(20)
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("t_heavy_hitters")),
    ),
    // BPE-ish regex tokenization (word / number / punctuation-run
    // classes — the lookahead-free common subset of Java and RE2 regex)
    QueryDef(
      "t_bpe_token_count",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"
        d.select(col("lang"),
            expr(s"CAST(size(regexp_extract_all(text, '$pat', 0)) AS BIGINT)").as("n_bpe"),
            expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_ws"))
          .groupBy("lang")
          .agg(sum(col("n_bpe")).as("total_bpe_tokens"),
               sum(col("n_ws")).as("total_ws_tokens"),
               round(sum(col("n_bpe")).cast("double") / sum(col("n_ws")), 4).as("bpe_per_ws"))
          .orderBy("lang")
      },
      Some("""SELECT lang,
             |CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+'))) AS BIGINT) AS total_bpe_tokens,
             |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
             |ROUND(CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+'))) AS DOUBLE)
             |  / SUM(len(string_split(text, ' '))), 4) AS bpe_per_ws
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // rolling-hash fingerprint: min md5 over all char-8-gram windows
    // (winnowing-style document signature; explode → codegen'd min agg)
    QueryDef(
      "t_rolling_fingerprint",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(col("doc_id"), posexplode(expr("sequence(1, greatest(length(text) - 7, 1))")).as(Seq("p", "i")),
                 col("text"))
          .select(col("doc_id"), md5(expr("substring(text, i, 8)")).as("h"))
          .groupBy("doc_id")
          .agg(min(col("h")).as("fingerprint"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, MIN(md5(substr(text, CAST(i AS INT), 8))) AS fingerprint
             |FROM (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
             |      FROM documents)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // deterministic hash-based train/val/test split — the reproducible
    // alternative to rand() sampling for training-data pipelines: the
    // assignment is a pure function of the id, stable across runs,
    // engines, and repartitioning
    QueryDef(
      "t_hash_split",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        val split = when(h.isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b"), "train")
          .when(h.isin("c", "d"), "val")
          .otherwise("test")
        d.groupBy(col("lang"), split.as("split"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_chars")).as("total_chars"))
          .orderBy("lang", "split")
      },
      Some("""SELECT lang,
             |CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
             |     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
             |     ELSE 'test' END AS split,
             |COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ),
    // Gopher-style repetition quality rules per doc: duplicate-token
    // fraction and most-frequent-token share. The scalable shape is
    // explode → two-level groupBy (map-side combined), never a per-doc
    // O(tokens²) lambda counting occurrences inside the array.
    QueryDef(
      "t_repetition",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val counts = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).as("n"))
        counts.groupBy("doc_id")
          .agg(sum(col("n")).as("tot"),
               count(lit(1)).as("dis"),
               max(col("n")).as("mx"))
          .select(col("doc_id"),
                  round(lit(1.0) - col("dis").cast("double") / col("tot"), 4).as("dup_frac"),
                  round(col("mx").cast("double") / col("tot"), 4).as("top_term_frac"),
                  col("tot").cast("bigint").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |c AS (SELECT doc_id, term, COUNT(*) AS n FROM t WHERE term <> '' GROUP BY 1, 2),
             |a AS (SELECT doc_id, SUM(n) AS tot, COUNT(*) AS dis, MAX(n) AS mx FROM c GROUP BY 1)
             |SELECT doc_id,
             |ROUND(1.0 - CAST(dis AS DOUBLE) / tot, 4) AS dup_frac,
             |ROUND(CAST(mx AS DOUBLE) / tot, 4) AS top_term_frac,
             |CAST(tot AS BIGINT) AS n_tokens
             |FROM a ORDER BY doc_id""".stripMargin),
    ),
    // PII scrubbing for training corpora: redact emails then IPv4s via
    // codegen'd regexp_replace (replace-all in both engines); the PII is
    // synthesized deterministically since testdata carries none. Output
    // carries match counts + an md5 of the redacted text so the gate
    // hash-checks the full redaction result.
    QueryDef(
      "t_pii_scrub",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val withPii = d.selectExpr("doc_id",
          """concat(text, ' contact user', CAST(doc_id AS STRING), '@mail.example.com',
            |  CASE WHEN doc_id % 2 = 0
            |    THEN concat(' cc admin', CAST(doc_id AS STRING), '@corp.example.org')
            |    ELSE '' END,
            |  ' from 10.', CAST(doc_id % 256 AS STRING),
            |  '.', CAST(doc_id * 7 % 256 AS STRING),
            |  '.', CAST(doc_id % 250 + 1 AS STRING)) AS pii_text""".stripMargin)
        withPii.selectExpr("doc_id",
            "CAST(size(regexp_extract_all(pii_text, '[a-z0-9.]+@[a-z0-9.-]+', 0)) AS BIGINT) AS n_emails",
            """CAST(size(regexp_extract_all(pii_text, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', 0)) AS BIGINT) AS n_ips""",
            """md5(regexp_replace(
              |  regexp_replace(pii_text, '[a-z0-9.]+@[a-z0-9.-]+', '<EMAIL>'),
              |  '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>')) AS redacted_hash""".stripMargin)
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ||
             |  CASE WHEN doc_id % 2 = 0
             |    THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.example.org'
             |    ELSE '' END ||
             |  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
             |  '.' || CAST(doc_id * 7 % 256 AS VARCHAR) ||
             |  '.' || CAST(doc_id % 250 + 1 AS VARCHAR) AS pii_text
             |  FROM documents)
             |SELECT doc_id,
             |CAST(len(regexp_extract_all(pii_text, '[a-z0-9.]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails,
             |CAST(len(regexp_extract_all(pii_text, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_ips,
             |md5(regexp_replace(
             |  regexp_replace(pii_text, '[a-z0-9.]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
             |  '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g')) AS redacted_hash
             |FROM p ORDER BY doc_id""".stripMargin),
    ),
    // deterministic stratified sampling — training-data mixture
    // reweighting: each stratum (lang) keeps a configured fraction,
    // chosen by the doc's md5 bucket rather than rand() so the sample
    // is reproducible across runs, engines, and repartitioning (the
    // per-stratum generalization of t_hash_split; fractions in
    // sixteenths via the first hex character, the proven cross-engine
    // hash surface)
    QueryDef(
      "t_stratified_sample",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        val hexBelow = (n: Int) => "0123456789abcdef".take(n).map(_.toString)
        val kept = when(col("lang") === "en", h.isin(hexBelow(8): _*))
          .when(col("lang") === "de", h.isin(hexBelow(4): _*))
          .otherwise(h.isin(hexBelow(2): _*))
        d.groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
               sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
               round(sum(when(kept, 1L).otherwise(0L)).cast("double") /
                 count(lit(1)), 4).as("kept_frac"))
          .orderBy("lang")
      },
      Some("""WITH m AS (SELECT lang,
             |  CASE WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')
             |       WHEN lang = 'de' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
             |       ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') END AS kept
             |  FROM documents)
             |SELECT lang, COUNT(*) AS n_total,
             |CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |ROUND(CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS kept_frac
             |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // corpus-statistics quality scoring: per-doc mean document frequency
    // of its tokens (a rare-token-density filter — low avg_token_df ⇒
    // unusual vocabulary ⇒ candidate for quality review). The term
    // dictionary is itself an aggregate of the exploded corpus; the
    // tokens⋈dictionary join and the dictionary groupBy share the `term`
    // hash partitioning, so the exploded relation shuffles once. All
    // arithmetic stays in BIGINT until the single output division.
    QueryDef(
      "t_token_rarity",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val dict = toks.groupBy("term").agg(count(lit(1)).as("df"))
        toks.join(dict, "term")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               sum(col("df")).as("sum_df"))
          .select(col("doc_id"), col("n_tokens"),
                  col("sum_df").cast("bigint").as("sum_df"),
                  round(col("sum_df").cast("double") / col("n_tokens"), 4).as("avg_token_df"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
             |d AS (SELECT term, COUNT(*) AS df FROM tt GROUP BY 1)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |CAST(SUM(df) AS BIGINT) AS sum_df,
             |ROUND(CAST(SUM(df) AS DOUBLE) / COUNT(*), 4) AS avg_token_df
             |FROM tt JOIN d USING (term) GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // n-gram heuristic language ID: score text against per-language
    // stopword profiles; rows-only (synthetic corpus carries no real
    // language signal — the spec checks shape + determinism).
    QueryDef(
      "t_lang_id",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val profiles = Map(
          "en" -> Seq("the", "and", "of"), "de" -> Seq("der", "und", "das"),
          "es" -> Seq("el", "de", "la"), "fr" -> Seq("le", "et", "la"),
          "zh" -> Seq("zh0", "zh1", "zh2"),
        )
        val scored = profiles.foldLeft(d.select(col("doc_id"), col("lang"),
            split(col("text"), " ").as("ws"))) { case (df, (l, words)) =>
          // typed literals via isInCollection — no string splicing into
          // SQL text, so profile words can never be injection-shaped
          df.withColumn(s"score_$l",
            size(filter(col("ws"), w => w.isInCollection(words)))
              .cast("double") / size(col("ws")))
        }
        val best = profiles.keys.toSeq.sorted
          .map(l => struct(col(s"score_$l").as("score"), lit(l).as("lang")))
        scored
          .withColumn("pred", greatest(best: _*).getField("lang"))
          .select(col("doc_id"), col("lang").as("actual"), col("pred"),
                  (col("pred") === col("lang")).as("hit"))
          .orderBy("doc_id")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("t_lang_id")),
    ),
    // per-doc top-3 characteristic terms by tf·idf rank. The score is
    // tf * 10^9 div df — EXACT BIGINT arithmetic, so Spark and DuckDB
    // rank identically (a float log-idf would hash-drift in the last
    // ulp). The constant numerator replaces the corpus-size factor N of
    // textbook tf·idf: per-doc ORDERING is invariant to a constant
    // multiplier, and dropping N also drops the scalar cross join that
    // would otherwise attach it. tf ⋈ df and the df groupBy share the
    // `term` hash partitioning (one shuffle of the exploded relation);
    // the top-3 window partitions by doc_id over at most
    // distinct-terms-per-doc rows — bounded by document length, not
    // corpus size.
    QueryDef(
      "t_tfidf_top_terms",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        tf.join(df, "term")
          .withColumn("score", expr("tf * 1000000000L div df"))
          .withColumn("rk", row_number().over(w).cast("bigint"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
          .orderBy("doc_id", "rk")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tt GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tt GROUP BY 1),
             |sc AS (SELECT doc_id, term, tf, df, (tf * 1000000000) // df AS score
             |  FROM tf JOIN df USING (term)),
             |r AS (SELECT *, row_number() OVER
             |  (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM sc)
             |SELECT doc_id, rk, term, tf, df, score FROM r
             |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
    ),
    // global-threshold quality filter — the two-pass shape every corpus
    // filter uses at scale: pass 1 computes the corpus-wide cutoff (here
    // the exact P25 of the quality score; a real pipeline would use
    // approx_percentile and accept the sketch), pass 2 is a stateless
    // scan-side filter with the cutoff as a LITERAL — no join, no
    // broadcast relation, nothing shuffles. The driver-side scalar pull
    // is one double, not data.
    QueryDef(
      "t_quality_filter",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val scored = d.select(col("doc_id"), qualityCol.as("quality"))
        val thr = scored.agg(expr("percentile(quality, 0.25)")).head().getDouble(0)
        scored.filter(col("quality") >= lit(thr)).orderBy("doc_id")
      },
      Some(s"""WITH $qualitySqlCte,
              |t AS (SELECT quantile_cont(quality, 0.25) AS thr FROM q)
              |SELECT doc_id, quality FROM q, t
              |WHERE quality >= thr ORDER BY doc_id""".stripMargin),
    ),
    // inverted-index build over word BIGRAMS (a phrase index — unigrams
    // on this synthetic vocab all have corpus-scale df, which is exactly
    // why real indexes drop stop terms): bigram → document frequency +
    // the first 5 posting doc_ids. Postings are capped by
    // slice-after-sort of the per-term collect_list, and posting lists
    // are only materialized below a CORPUS-RELATIVE df ceiling (10% of
    // docs) — rare/mid phrases, the ones an index serves; hot-phrase
    // postings are the per-key state that explodes at scale. The ceiling
    // is one driver-side count, a scalar literal in the plan.
    QueryDef(
      "t_inverted_index",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val nDocs = d.count()
        val bigrams = d.select(col("doc_id"), explode(expr(
            """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
              |         slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
              |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("term"))
          .distinct()
        // df FIRST (a bounded count aggregate), THEN postings, and only
        // for the surviving rare/mid terms: collecting a hot term's
        // posting list before filtering it away would materialize
        // corpus-scale per-key state — the exact explosion the ceiling
        // exists to prevent. The join and both aggregates share the
        // term hash partitioning.
        val keep = bigrams.groupBy("term").agg(count(lit(1)).as("df"))
          .filter(col("df") <= lit(nDocs / 10.0))
        bigrams.join(keep, "term")
          .groupBy("term")
          .agg(first(col("df")).as("df"),
               array_join(slice(array_sort(collect_list(col("doc_id"))), 1, 5), ",").as("postings"))
          .select(col("term"), col("df"), col("postings"))
          .orderBy("term")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |b AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS term
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM t)),
             |g AS (SELECT term, COUNT(*) AS df,
             |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',') AS postings
             |  FROM b GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents)
             |SELECT term, df, postings FROM g, n
             |WHERE df <= n_docs / 10.0 ORDER BY term""".stripMargin),
    ),
    // context-window packing plan: assign each doc to a 2048-token bin
    // via a running token total — per HASH BUCKET, not corpus-wide (a
    // global cumulative sum would serialize on one partition; 32
    // independent bucket timelines keep every window partition-local
    // and the whole op one shuffle). A doc that crosses a bin boundary
    // belongs to the bin it started in — greedy packing semantics; the
    // padding/truncation decision is the trainer's, the ENGINE's job is
    // the deterministic bin assignment and fill accounting. The bucket
    // count is the parallelism dial — packBucketCount: conf-overridable
    // (spark.graft.pack.buckets), corpus-derived default (one bucket
    // per ~4096 docs, floor 32 — so the gate SFs keep the historical
    // 32 the oracle hardcodes, and a 100 TB corpus gets millions of
    // bounded timelines instead of 32 corpus-sized ones).
    QueryDef(
      "t_sequence_pack",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val buckets = packBucketCount(s, d.count())
        // GATE guard, not a product constraint: this entry's DuckDB
        // oracle hardcodes the 32-bucket historical default, so a conf
        // override or a gate corpus past the derived floor must fail
        // LOUDLY here instead of hash-mismatching obscurely downstream
        // (PackBucketsSpec drives the dial through sequencePack
        // directly — the product paths, prepare/prepareWeb, stay
        // conf-dialable)
        require(s.conf.getOption("spark.graft.pack.buckets").isEmpty && buckets == 32,
          s"t_sequence_pack's oracle pins 32 pack buckets; live value is $buckets " +
            "(unset spark.graft.pack.buckets / gate corpora stay under 32*4096 docs)")
        sequencePack(d, buckets).orderBy("bucket", "bin")
      },
      Some("""WITH t AS (SELECT doc_id, doc_id % 32 AS bucket,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
             |b AS (SELECT bucket, doc_id, n_tokens,
             |  CAST((CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) AS BIGINT) - n_tokens) // 2048 AS BIGINT) AS bin
             |  FROM t)
             |SELECT bucket, bin, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ),
    // sliding-window document chunking (the RAG / long-context
    // pretraining splitter, complement of t_sequence_pack's packer):
    // 256-char windows at 192-char stride (64 overlap), each chunk
    // content-addressed by md5 so the gate hash-pins every chunk's
    // exact bytes without shipping the text. Pure
    // sequence+explode+substring — one codegen'd projection, no UDF,
    // no shuffle before the final ORDER BY; chunk count per doc is
    // data-derived, so a 100 TB corpus fans out row-locally exactly
    // like this.
    QueryDef(
      "t_chunk_overlap",
      (s, dir) => chunkOverlap(Tables(s, dir).documents)
        .orderBy("doc_id", "chunk_id"),
      Some(ChunkOverlapSql),
    ),
    // cross-document duplicate n-gram fraction (the Gopher-rules
    // dup_ngram_frac, cross-doc complement of t_repetition's within-doc
    // rules): per doc, the share of its word 8-gram windows whose gram
    // also occurs in ANOTHER document. Grams are md5'd before the
    // global count so the shuffle carries 32-byte keys, not text; ONE
    // shuffle on the gram key for the global doc-frequency, one hash
    // join back. dup_frac stays an unrounded division of exact BIGINTs
    // (IEEE-identical cross-engine; rounding derived doubles is the
    // documented tie trap).
    QueryDef(
      "t_dup_ngram_frac",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val grams = d
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 8)
          .select(col("doc_id"), explode(expr("sequence(0, size(w) - 8)")).as("i"), col("w"))
          .select(col("doc_id"), expr("md5(array_join(slice(w, i + 1, 8), ' '))").as("gram"))
        val global = grams.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("n_docs_with"))
        grams.join(global, "gram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
               sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_windows"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_windows")).as("dup_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
             |  SELECT doc_id, md5(array_to_string(ws[i + 1 : i + 8], ' ')) AS gram
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
             |       LATERAL (SELECT unnest(generate_series(0, len(ws) - 8)) AS i) s
             |  WHERE len(ws) >= 8),
             |c AS (SELECT gram, COUNT(DISTINCT doc_id) AS n_docs_with FROM g GROUP BY 1)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
             |  CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |  CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
             |FROM g JOIN c USING (gram)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // temperature-scaled mixture weights per source (the multinomial
    // sampling step of multi-source training): weight ∝ n_docs^0.5.
    // sqrt is exactly rounded in IEEE so both engines agree bit-for-bit;
    // the normalizing sum runs over EXACT BIGINTs (sqrt scaled to 1e6
    // and floored) because a float sum's order would not be
    // reproducible across engines or partitionings.
    QueryDef(
      "t_mixture_weights",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val bySource = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .withColumn("s_scaled", expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"))
        val total = bySource.agg(sum(col("s_scaled"))).head().getLong(0)
        bySource
          .select(col("source"), col("n_docs"),
                  round(col("s_scaled").cast("double") / lit(total.toDouble), 6).as("weight"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs,
             |  CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT) AS s_scaled
             |  FROM documents GROUP BY 1),
             |t AS (SELECT SUM(s_scaled) AS total FROM c)
             |SELECT source, n_docs,
             |ROUND(CAST(s_scaled AS DOUBLE) / CAST(total AS DOUBLE), 6) AS weight
             |FROM c, t ORDER BY source""".stripMargin),
    ),
    // per-doc bigram novelty: the fraction of a doc's distinct word
    // bigrams that occur in NO other document — high novelty flags
    // fresh/unique content, low novelty flags boilerplate assembled
    // from corpus-common phrasing (a dedup-adjacent quality signal the
    // pair-level operators don't give: it needs no candidate pairs).
    // Shape: explode distinct bigrams (slice+zip_with, never an
    // indexed-lambda re-split), one map-side-combined count per bigram,
    // then a co-partitioned big-big join back on the bigram and a
    // per-doc aggregate — every exchange keys on (bigram) or (doc_id),
    // nothing quadratic. The ratio divides two exact BIGINTs as
    // doubles, unrounded (Det rule: never round a derived double).
    QueryDef(
      "t_ngram_novelty",
      (s, dir) => {
        val d = Tables(s, dir).documents
          .filter(size(split(col("text"), " ")) >= 2)
        val bigramsExpr =
          """array_distinct(
            |  zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
            |           slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
            |           (a, b) -> concat(a, ' ', b)))""".stripMargin
        val bg = d.select(col("doc_id"), explode(expr(bigramsExpr)).as("g"))
        val gdf = bg.groupBy("g").agg(count(lit(1)).as("df"))
        bg.join(gdf, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
               sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novel_frac",
            col("n_novel").cast("double") / col("n_bigrams").cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH bg AS (SELECT doc_id,
             |  unnest(list_distinct(list_transform(
             |    generate_series(1, len(string_split(text,' ')) - 1),
             |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))) AS g
             |  FROM documents WHERE len(string_split(text,' ')) >= 2),
             |gdf AS (SELECT g, COUNT(*) AS df FROM bg GROUP BY g)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |CAST(SUM(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |CAST(SUM(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |  / CAST(COUNT(*) AS DOUBLE) AS novel_frac
             |FROM bg JOIN gdf USING(g)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // deterministic weight-biased sample (top-100 by priority): each doc
    // races with priority u/w where u is a 52-bit integer from its md5
    // (the proven cross-engine hash surface, exact in a double) and
    // w = n_chars, so longer docs win proportionally more often — the
    // exponential-race shape of weighted reservoir sampling with the
    // uniform draw replaced by a hash (reproducible across runs,
    // engines, and repartitionings; the race uses u directly rather
    // than -ln(u), keeping the priority an exact one-step division —
    // libm log is not bit-stable across engines). Global top-k compiles
    // to TakeOrderedAndProject: each partition ships ≤ k rows, no
    // global sort.
    QueryDef(
      "t_weighted_sample",
      (s, dir) => {
        val d = Tables(s, dir).documents.filter(col("n_chars") > 0)
        val u = conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("bigint")
        d.select(col("doc_id"), col("n_chars"),
            (u.cast("double") / col("n_chars").cast("double")).as("priority"))
          .orderBy("priority", "doc_id")
          .limit(100)
      },
      Some("""SELECT doc_id, n_chars,
             |CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
             |  / CAST(n_chars AS DOUBLE) AS priority
             |FROM documents WHERE n_chars > 0
             |ORDER BY priority, doc_id LIMIT 100""".stripMargin),
    ),
    // Character-distribution Shannon entropy — the classic cheap
    // gibberish/boilerplate signal (natural text sits ~4 bits/char;
    // base64 blobs and aaaa-runs sit far off it). Computed entirely
    // with per-row array lambdas over a SORTED distinct-char list, so
    // there is NO shuffle — a pure map over the corpus — and both
    // engines fold the identical product sequence in the identical
    // order; the per-char counts are materialized ONCE into an array
    // (one O(distinct·len) filter pass, not one per use). log2 is libm
    // in both engines (ulp-level divergence), so entropy carries the
    // round(4) second-moment contract; distinct_ratio divides two
    // identical-by-construction doubles and stays unrounded.
    QueryDef(
      "t_char_entropy",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(col("doc_id"),
            expr("filter(split(text, ''), x -> x != '')").as("cs"))
          .select(col("doc_id"), size(col("cs")).cast("bigint").as("n_chars"),
            expr("""transform(array_sort(array_distinct(cs)),
                   |  c -> size(filter(cs, x -> x = c)))""".stripMargin).as("ks"))
          .select(col("doc_id"), col("n_chars"),
            size(col("ks")).cast("bigint").as("n_distinct"),
            (size(col("ks")).cast("double") / col("n_chars").cast("double"))
              .as("distinct_ratio"),
            // + 0.0 canonicalizes the single-distinct-char doc's -0.0
            // (IEEE: -0.0 + 0.0 = +0.0 in both engines) so the gate's
            // repr-level compare can't see a sign-of-zero difference
            expr("""round(-aggregate(transform(ks, k ->
                   |  (CAST(k AS DOUBLE) / CAST(n_chars AS DOUBLE))
                   |  * log2(CAST(k AS DOUBLE) / CAST(n_chars AS DOUBLE))),
                   |  CAST(0.0 AS DOUBLE), (a, x) -> a + x) + CAST(0.0 AS DOUBLE), 4)""".stripMargin)
              .as("entropy"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id,
             |  list_filter(string_split(text, ''), x -> x != '') AS cs FROM documents),
             |d AS (SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_chars,
             |  list_transform(list_sort(list_distinct(cs)),
             |    c -> len(list_filter(cs, x -> x = c))) AS ks FROM c)
             |SELECT doc_id, n_chars,
             |CAST(len(ks) AS BIGINT) AS n_distinct,
             |CAST(len(ks) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS distinct_ratio,
             |ROUND(-list_sum(list_transform(ks, k ->
             |  (CAST(k AS DOUBLE) / CAST(n_chars AS DOUBLE))
             |  * log2(CAST(k AS DOUBLE) / CAST(n_chars AS DOUBLE))))
             |  + CAST(0.0 AS DOUBLE), 4) AS entropy
             |FROM d ORDER BY doc_id""".stripMargin),
    ),
    // Unigram surprisal — the cross-entropy of each document against
    // the CORPUS unigram LM (the spirit of CCNet's perplexity filter
    // with the n-gram model replaced by the corpus itself): rare-term
    // soup scores high, stopword boilerplate scores low. Plan shape at
    // scale: token explode → vocab join (left to AQE: a Zipf vocab is
    // usually broadcastable but UNBOUNDED in principle, so no forced
    // broadcast hint) + 1-row total broadcast → per-doc hash
    // aggregate; a doc's tokens are co-located within their scan
    // split, so the map-side combine means the exchange carries ~1 row
    // per document, not per token. The double
    // SUM over libm log2 values is summation-order dependent and
    // ulp-divergent cross-engine — round(4) is the second-moment
    // contract that re-syncs it.
    QueryDef(
      "t_unigram_surprisal",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val freq = toks.groupBy("term").agg(count(lit(1)).as("c"))
        val totalDf = freq.agg(sum(col("c")).as("n_total"))
        toks.join(freq, "term")
          .crossJoin(broadcast(totalDf))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               round(sum(-log2(col("c").cast("double") / col("n_total").cast("double")))
                 / count(lit(1)), 4).as("surprisal"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |t2 AS (SELECT * FROM toks WHERE term <> ''),
             |freq AS (SELECT term, COUNT(*) AS c FROM t2 GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM freq)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |ROUND(SUM(-log2(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)))
             |  / COUNT(*), 4) AS surprisal
             |FROM t2 JOIN freq USING(term) CROSS JOIN tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // CCNet's head/middle/tail split (Wenzek et al. 2020, "CCNet:
    // Extracting High Quality Monolingual Datasets from Web Crawl
    // Data"): score every document with an LM signal (here the
    // corpus-fit unigram surprisal above, same 4dp contract), cut the
    // corpus at the score's exact terciles, and label LOW-surprisal
    // (most predictable) docs "head", then "middle", then "tail" —
    // the paper's quality partition used to keep head+middle for
    // training. The cuts are a 1-row broadcast (the DSIR model-totals
    // shape); the tercile aggregate is EXACT for the cross-engine
    // gate — at 100 TB swap percentile for approx_percentile(1e-6)
    // and the rest of the plan is unchanged. Comparison against the
    // UNROUNDED cuts is <=-stable cross-engine: doc scores are 4dp
    // multiples and an interpolated cut lies strictly between
    // adjacent order statistics, so no document sits within an ulp
    // of a cut unless the cut IS an order statistic (interpolation
    // fraction 0, exact in both engines).
    // RFC 3986 URL canonicalization — the URL-dedup key maker,
    // closed-form oracled (see urlCanonicalize scaladoc)
    QueryDef(
      "t_url_canonicalize",
      (s, dir) => urlCanonicalize(Tables(s, dir).documents).orderBy("doc_id"),
      Some(UrlCanonicalizeSql),
    ),
    // RFC 9309 robots.txt decisions — the crawl front door's first
    // fetch gate, closed-form oracled (see robotsDecisions scaladoc)
    QueryDef(
      "t_robots_rules",
      (s, dir) => robotsDecisions(Tables(s, dir).documents).orderBy("doc_id"),
      Some(RobotsRulesSql),
    ),
    // sitemaps.org URL discovery — the crawl front door's THIRD leg
    // (robots decides, sitemaps discover, canonicalization keys),
    // through the real protocol parser; closed-form oracled (see
    // sitemapUrls scaladoc)
    QueryDef(
      "t_sitemap_urls",
      (s, dir) => sitemapUrls(Tables(s, dir).documents).orderBy("doc_id", "entry_i"),
      Some(SitemapUrlsSql),
    ),
    // Gopher A1.2 repetition battery — the word-n-gram half of the
    // published repetition-removal rules (see gopherRepetition
    // scaladoc for the semantics, the position-marking duplicate rule,
    // and the mapPartitions-vs-set-based engine split)
    QueryDef(
      "t_gopher_repetition",
      (s, dir) => gopherRepetition(Tables(s, dir).documents).orderBy("doc_id"),
      Some(GopherRepetitionSql),
    ),
    // Crawl-frontier scheduling — the integration the three crawl-gate
    // legs exist for: sitemap-DISCOVERED urls (t_sitemap_urls's
    // urlset fixture), gated by the RFC 9309 robots decision
    // (t_robots_rules's fixture, carrying its crawl_delay politeness
    // budget), ranked per HOST by sitemap priority into a top-50
    // fetch queue. The per-host top-k runs as the TopKByScore
    // bounded-heap PARTIAL aggregate (each map partition ships ≤ k
    // entries per host — never a corpus-wide window sort; same
    // deterministic score-desc/id-asc tiebreak as a row_number
    // window, which is exactly what the oracle recomputes), then the
    // ≤ 50·hosts winners broadcast-join their url rows back. Hosts
    // number in the millions on a real crawl, so per-host groups are
    // naturally bounded; the gate corpus's 5 synthetic hosts just
    // concentrate the fixture (CrawlFrontierSpec pins heap≡window
    // parity under host skew through [[crawlFrontier]]'s host column).
    QueryDef(
      "t_crawl_frontier",
      (s, dir) => crawlFrontier(Tables(s, dir).documents, pmod(col("doc_id"), lit(5L))),
      Some(s"""WITH n AS (SELECT doc_id, doc_id % 4 + 1 AS n FROM documents
             |  WHERE doc_id % 7 <> 0),
             |e AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM n),
             |a AS (SELECT doc_id, i FROM e WHERE $RobotsAllowedSql),
             |f AS (SELECT doc_id, i,
             |  'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.test/page/'
             |    || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR) AS loc,
             |  CASE WHEN (doc_id + i) % 13 = 0 THEN 0.5
             |       ELSE CAST((doc_id + i) % 10 AS DOUBLE) / 10.0 END AS priority,
             |  CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 9 + 1 END AS INT) AS crawl_delay
             |  FROM a),
             |r AS (SELECT f.*, ROW_NUMBER() OVER (PARTITION BY doc_id % 5
             |  ORDER BY priority DESC, doc_id * 8 + i) AS rnk FROM f)
             |SELECT 'site' || CAST(doc_id % 5 AS VARCHAR) || '.test' AS host,
             |CAST(rnk AS INT) AS crawl_rank, loc, priority, crawl_delay
             |FROM r WHERE rnk <= 50 ORDER BY host, crawl_rank""".stripMargin),
    ),
    // WIMBD-style corpus profile (Elazar et al. 2024, "What's In My
    // Big Data?" — the pre-training corpus audit every pipeline runs
    // before committing compute): one row of corpus-level facts —
    // doc/distinct-text counts (the exact-dup rate), token totals,
    // mean/median/p90 document length, vocabulary size, and the most
    // frequent term with its corpus share. Scale shape: two hash
    // aggregates (per-term and per-doc, both map-side combined), four
    // 1-row frames crossJoined at the end (broadcast nested loops of
    // single rows — the TPC-H scalar-threshold shape); the top-term
    // pick is a TakeOrdered(1), never a full sort. round(4) on every
    // derived double; percentiles round both sides so engine
    // interpolation-formula ulps can't red the gate.
    QueryDef(
      "t_wimbd_stats",
      (s, dir) => wimbdStats(Tables(s, dir).documents),
      Some("""WITH tk AS (SELECT doc_id,
             |  unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
             |  FROM documents),
             |ta AS (SELECT term, COUNT(*) AS c FROM tk GROUP BY 1),
             |top AS (SELECT term, c FROM ta ORDER BY c DESC, term LIMIT 1),
             |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tk GROUP BY 1),
             |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts FROM documents),
             |ts AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             |  ROUND(AVG(n_tokens), 4) AS mean_tokens,
             |  ROUND(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
             |  ROUND(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens FROM pd),
             |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             |  CAST(SUM(c) AS BIGINT) AS vsum FROM ta)
             |SELECT n_docs, n_distinct_texts, total_tokens, mean_tokens,
             |p50_tokens, p90_tokens, vocab_size, term AS top_term,
             |ROUND(CAST(c AS DOUBLE) / vsum, 4) AS top_term_share
             |FROM b CROSS JOIN ts CROSS JOIN v CROSS JOIN top""".stripMargin),
    ),
    // Model-based quality scoring (see qualityModel's scaladoc): 3
    // unrolled full-batch GD steps of a logistic classifier over the
    // 4096-bucket hashed features, gopher-pass weak labels, the
    // d_link_authority chained-CTE oracle pattern — each step is one
    // margins CTE (join weights, sum by doc) and one gradient CTE
    // (join margins, sum by bucket), exactly the two hash aggregates
    // the Spark side runs. Per-step weights round to 12 decimals on
    // BOTH engines (the shared contract — summation-order ulp
    // divergence must not compound through the weight vector across
    // steps); round(6) on the score for the same reason.
    QueryDef(
      "t_quality_model",
      (s, dir) => qualityModel(Tables(s, dir).documents).orderBy("doc_id"),
      Some(QualityModelSql),
    ),
    QueryDef(
      "t_ccnet_buckets",
      (s, dir) => ccnetBuckets(Tables(s, dir).documents).orderBy("doc_id"),
      Some(s"""WITH ${ccnetScoredCtesSql("documents")}
             |SELECT doc_id, n_tokens, surprisal,
             |ROUND(c1, 4) AS cut_head, ROUND(c2, 4) AS cut_tail,
             |CASE WHEN surprisal <= c1 THEN 'head'
             |     WHEN surprisal <= c2 THEN 'middle' ELSE 'tail' END AS bucket
             |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin),
    ),
    // Deflate compression ratio — the quality signal entropy can't see:
    // LONG-RANGE repetition (copy-pasted paragraphs, templated spam)
    // compresses far below natural text even when the char distribution
    // looks normal. Pure map over the corpus (one Deflater per batch,
    // explicitly released — no shuffle, no state), BEST_SPEED because
    // the signal is the ratio's magnitude, not the exact byte count.
    // Rows-only: zlib lives JVM-side; TextSignalsSpec pins the
    // repetitive≪random separation, determinism across runs, and the
    // ratio arithmetic.
    QueryDef(
      "t_compress_ratio",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir).documents
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions(_.grouped(512).flatMap { batch =>
            val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
            val buf = new Array[Byte](1 << 16)
            val out = batch.map { case (id, text) =>
              val raw = text.getBytes("UTF-8")
              deflater.reset()
              deflater.setInput(raw)
              deflater.finish()
              var n = 0L
              while (!deflater.finished()) n += deflater.deflate(buf)
              (id, raw.length.toLong, n,
               if (raw.length > 0) n.toDouble / raw.length else 1.0)
            }
            deflater.end()
            out
          })
          .toDF("doc_id", "n_raw", "n_deflate", "ratio")
          .orderBy("doc_id")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("t_compress_ratio")),
    ),
    // REAL BPE tokenizer TRAINING (functions.BpeTokenizer): the corpus
    // collapses to a word histogram (one map-side-combined groupBy —
    // the distinct-pretoken table is bounded, ~10M rows at 100 TB,
    // which is why every production trainer works from word counts),
    // TakeOrdered caps it to the 50k most frequent words, and the
    // classical merge loop runs driver-side over that bounded table.
    // Deterministic by contract (count-then-lexicographic tie-breaks),
    // SF-pinned; BpeTokenizerSpec pins the Sennrich textbook corpus
    // merges by hand.
    QueryDef(
      "t_bpe_train",
      (s, dir) => {
        import s.implicits._
        // left/right are DuckDB reserved words — *_sym keeps the
        // snapshot oracle plain-SQL
        learnBpe(Tables(s, dir))
          .map(m => (m.rank, m.left, m.right, m.merged, m.pairCount))
          .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
          .orderBy("merge_rank")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("t_bpe_train")),
    ),
    // BPE ENCODE with the vocabulary trained above: the merge ranks
    // broadcast (a closure constant — ≤ numMerges entries), and every
    // document tokenizes independently on executors: train once,
    // apply at cluster width, the tokenizer-application shape of a
    // training-data pipeline. Compression (pretokens→BPE tokens per
    // doc) is the per-document signal.
    QueryDef(
      "t_bpe_encode",
      (s, dir) => {
        val ranks = graft.functions.BpeTokenizer.rankTable(learnBpe(Tables(s, dir)))
        bpeEncoded(Tables(s, dir).documents, ranks).orderBy("doc_id")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("t_bpe_encode")),
    ),
    // Context-window packing budgeted in REAL tokenizer tokens —
    // t_sequence_pack's plan with t_bpe_encode's counts: a context
    // window is a BPE budget in every real pretraining run, and
    // whitespace counts mis-budget it by the corpus's pretoken/BPE
    // ratio (on THIS punctuation-free word-soup gate corpus the two
    // happen to coincide doc-by-doc — the semantic pin that the counts
    // really come from the trained tokenizer is BpePackSpec's
    // hand-tokenized recomputation, and prepareWeb's packByBpe arm
    // exercises punctuated text where they genuinely diverge). A
    // 512-token budget so the gate corpus actually FILLS bins (~3 per
    // bucket) instead of one bin per timeline. Same bounded-timeline
    // shape (bucketed running sum, packBucketCount dial); the encode
    // rides the same broadcast rank table as t_bpe_encode. The oracle
    // chains the committed t_bpe_encode snapshot (the only
    // non-SQL-expressible step) through an INDEPENDENT SQL
    // recomputation of the packing, so bin arithmetic is recomputed,
    // not pinned.
    QueryDef(
      "t_bpe_pack",
      (s, dir) => {
        val t = Tables(s, dir)
        val ranks = graft.functions.BpeTokenizer.rankTable(learnBpe(t))
        val buckets = packBucketCount(s, t.documents.count())
        // same GATE guard as t_sequence_pack: the oracle below
        // hardcodes doc_id % 32
        require(s.conf.getOption("spark.graft.pack.buckets").isEmpty && buckets == 32,
          s"t_bpe_pack's oracle pins 32 pack buckets; live value is $buckets " +
            "(unset spark.graft.pack.buckets / gate corpora stay under 32*4096 docs)")
        bpeEncoded(t.documents, ranks)
          .select(col("doc_id"), pmod(col("doc_id"), lit(buckets.toLong)).as("bucket"),
                  col("n_bpe_tokens").as("n_tokens"))
          .withColumn("bin",
            expr("CAST((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tokens) div 512 AS BIGINT)"))
          .groupBy("bucket", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
          .orderBy("bucket", "bin")
      },
      Some {
        val snap = graft.api.ParseSnapshots.sfPinnedSql("t_bpe_encode")
        s"""WITH bpe AS ($snap),
           |p AS (SELECT doc_id, doc_id % 32 AS bucket,
           |  CAST(n_bpe_tokens AS BIGINT) AS n_tokens FROM bpe),
           |b AS (SELECT bucket, doc_id, n_tokens,
           |  CAST((CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) AS BIGINT) - n_tokens) // 512 AS BIGINT) AS bin
           |  FROM p)
           |SELECT bucket, bin, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
           |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      },
    ),
    // BIGRAM-LM cross-entropy scoring (the CCNet/KenLM quality signal
    // one order up from t_unigram_surprisal): train an add-k-smoothed
    // bigram model on the corpus itself, score every document by
    // per-bigram cross-entropy and its perplexity. Adjacency comes
    // from ARRAY ops (sequence + transform over the token array — no
    // window, no self-join, no extra shuffle for pairing); the model
    // tables are token-bounded aggregates ≪ corpus; the vocabulary
    // size is one broadcast scalar. At 100 TB the only corpus-sized
    // exchanges are the two model groupBys and the score join — the
    // same shape as any distributed LM-scoring pass.
    QueryDef(
      "t_bigram_surprisal",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val toks = d.select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
        val bg = toks
          .filter(size(col("ts")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] AS w1, ts[i + 1] AS w2))")).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        val cu = bg.groupBy("w1").agg(count(lit(1)).as("cu"))
        val vocab = bg.select(col("w1").as("w")).union(bg.select(col("w2")))
          .distinct().agg(count(lit(1)).as("v"))
        bg.join(cb, Seq("w1", "w2"))
          .join(cu, Seq("w1"))
          .crossJoin(broadcast(vocab))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
               round(sum(-log2((col("cb") + lit(0.5)) /
                   (col("cu") + lit(0.5) * col("v"))))
                 / count(lit(1)), 4).as("xent"))
          .withColumn("ppl", round(pow(lit(2.0), col("xent")), 4))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
             |  FROM documents),
             |bg AS (
             |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
             |  FROM toks, UNNEST(range(1, len(ts))) AS r(i)),
             |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
             |cu AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY 1),
             |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM
             |      (SELECT w1 AS w FROM bg UNION SELECT w2 FROM bg)),
             |scored AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |    ROUND(SUM(-log2((cb + 0.5) / (cu + 0.5 * v))) / COUNT(*), 4) AS xent
             |  FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
             |  GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, xent, ROUND(POWER(2, xent), 4) AS ppl
             |FROM scored ORDER BY doc_id""".stripMargin),
    ),
    // DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): fit bag-of-hashed-
    // ngram LMs on a TARGET distribution (here: the lang='en' slice)
    // and on the RAW corpus, then weight every document by
    // log p_target(doc) - log p_raw(doc) under those models — the
    // published recipe for steering a 100 TB crawl toward a target
    // domain. Features are word unigrams hashed into 4096 buckets via
    // an md5 prefix (engine-portable, unlike murmur); both models are
    // 4096-row aggregates ≪ corpus, their totals 1-row broadcasts, so
    // the only corpus-sized exchanges are the two bucket-count
    // groupBys and the score join — and the bucket key is 3 hex chars,
    // not the token. Downstream selection is TakeOrdered on logw (or
    // Gumbel-top-k for sampling); this entry is the weight pass.
    QueryDef(
      "t_dsir_weight",
      (s, dir) => dsirWeights(Tables(s, dir).documents).orderBy("doc_id"),
      Some(s"$DsirWeightSqlCore\nORDER BY doc_id"),
    ),
    // DSIR step 2 — GUMBEL-TOP-K RESAMPLING (the paper's "importance
    // resampling" made deterministic): sampling k documents without
    // replacement with probability ∝ w is equivalent to taking the
    // top-k of log w + Gumbel noise (the Gumbel-max trick). The noise
    // here is derandomized — u ~ U(0,1) derived from md5(doc_id), so
    // the "sample" is reproducible, cross-engine hash-checkable, and
    // stable under partitioning. Selection is orderBy+limit —
    // TakeOrdered, a bounded per-partition heap, never a global sort
    // of the corpus.
    QueryDef(
      "t_dsir_sample",
      (s, dir) => {
        dsirWeights(Tables(s, dir).documents)
          .withColumn("u",
            (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS DOUBLE)")
              + lit(0.5)) / lit(16777216.0))
          .withColumn("gumbel_key",
            round(col("logw_bits") * lit(0.6931471805599453) - log(-log(col("u"))), 4))
          .select(col("doc_id"), col("logw_bits"), col("gumbel_key"))
          .orderBy(desc("gumbel_key"), col("doc_id"))
          .limit(100)
      },
      Some(s"""WITH w AS ($DsirWeightSqlCore)
             |SELECT doc_id, logw_bits,
             |  ROUND(logw_bits * ln(2)
             |    - ln(-ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT + 0.5)
             |             / 16777216.0)), 4) AS gumbel_key
             |FROM w
             |ORDER BY gumbel_key DESC, doc_id LIMIT 100""".stripMargin),
    ),
    // HTML boilerplate removal (functions.HtmlText): each document
    // rendered as a full HTML page (head junk, script/style bodies,
    // comments, entity-escaped paragraphs) and extracted back by the
    // single-pass state machine — the trafilatura-style stage a crawl
    // runs before any dedup/quality/tokenize sees text. The oracle
    // recomputes title/text/paragraph-count closed-form from the raw
    // text, so a parser that mishandles tags, entities, script
    // bodies, or whitespace collapse reds out field-for-field.
    QueryDef(
      "t_html_extract",
      (s, dir) =>
        htmlExtracted(Tables(s, dir).documents).orderBy("doc_id"),
      Some(HtmlExtractSql),
    ),
    // the link-graph upstream stage: outbound hrefs from each page's
    // <a> tags in the same single pass — what feeds d_link_authority's
    // PageRank once a crawl is real. The builder plants one anchor per
    // paragraph closed-form, so the oracle recomputes the full ordered
    // link list from (doc_id, word count) alone; joined to one string
    // because the driver's pandas gate can't sort array cells.
    QueryDef(
      "t_html_links",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir).documents.select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (d, text) =>
            val e = graft.functions.HtmlText
              .extract(graft.functions.HtmlText.syntheticHtml(d, text)).get
            (d, e.links.length, e.links.mkString(" "))
          }.toDF("doc_id", "n_links", "links_joined")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             | CAST(ceil(CAST(length(list_filter(string_split(text, ' '), w -> w <> ''))
             |   AS DOUBLE) / 10) AS INT) AS n_links,
             | array_to_string(list_transform(
             |   range(CAST(ceil(CAST(length(list_filter(string_split(text, ' '), w -> w <> ''))
             |     AS DOUBLE) / 10) AS BIGINT)),
             |   i -> 'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.test/doc'
             |     || CAST(doc_id AS VARCHAR) || '/p' || CAST(i AS VARCHAR)), ' ') AS links_joined
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    // the crawl front door: pages packed into real WARC 1.0 blobs
    // (ISO 28500 — the Common Crawl container; warcinfo record + one
    // HTTP-response record per page, 25 pages per file so blob size is
    // BOUNDED at any corpus scale), then parsed back record-by-record
    // and the HTML bodies boilerplate-stripped — the full
    // WARC → HTTP → HTML → text chain in one distributed pass. The
    // oracle recomputes URI/status/title/word-count closed-form, so a
    // framing error in either the record walk or the HTTP split reds
    // out; WarcRecordsSpec walks the bytes independently of parse().
    QueryDef(
      "p_warc_extract",
      (s, dir) => {
        import s.implicits._
        warcBlobs(Tables(s, dir).documents)
          .flatMap { case (_, blob) =>
            graft.functions.WarcRecords.parse(blob).getOrElse(Seq.empty)
              .map(warcPageRow)
          }.toDF("doc_id", "url", "http_status", "title", "n_words")
          .orderBy("doc_id")
      },
      Some(WarcExtractSql),
    ),
    // the same chain over .warc.gz — Common Crawl's ACTUAL shipping
    // form (one gzip member per record, so single records range-read
    // out of a petabyte archive); same closed-form oracle, so the
    // member framing and multi-member inflate are both hash-gated
    QueryDef(
      "p_warc_gz",
      (s, dir) => {
        import s.implicits._
        warcBlobs(Tables(s, dir).documents, gz = true)
          .flatMap { case (_, blob) =>
            graft.functions.WarcRecords.parseAny(blob).getOrElse(Seq.empty)
              .map(warcPageRow)
          }.toDF("doc_id", "url", "http_status", "title", "n_words")
          .orderBy("doc_id")
      },
      Some(WarcExtractSql),
    ),
  )

  /** Documents packed into bounded WARC blobs (25 pages per file) —
    * shared by the batch extractor and the streaming drop-dir twin's
    * file materializer.
    */
  private[graft] def warcBlobs(docs: org.apache.spark.sql.DataFrame,
                               gz: Boolean = false): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select((col("doc_id") / 25).cast("long").as("bucket"),
              col("doc_id"), col("text"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(struct(
        col("doc_id").as("_1"), col("text").as("_2")))).as("pages"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (bucket, pages) =>
        val html = pages.map { case (d, t) =>
          (d, graft.functions.HtmlText.syntheticHtml(d, t)) }
        bucket -> (if (gz) graft.functions.WarcRecords.buildGz(html)
                   else graft.functions.WarcRecords.build(html))
      }
  }

  /** One output row from a parsed WARC response (doc_id recovered from
    * the URI, body boilerplate-stripped) — shared batch/stream.
    */
  private[graft] def warcPageRow(r: graft.functions.WarcRecords.Response): (Long, String, Int, String, Int) = {
    val e = graft.functions.HtmlText.extract(
      new String(r.body, java.nio.charset.StandardCharsets.UTF_8)).get
    val d = r.uri.substring(r.uri.lastIndexOf("doc") + 3).toLong
    (d, r.uri, r.status, e.title, e.text.split(" ").length)
  }

  /** [[warcPageRow]]'s sibling carrying the EXTRACTED TEXT — the
    * d_web_pipeline fetch stage needs the page body downstream, not
    * just its word count.
    */
  private[graft] def warcPageText(r: graft.functions.WarcRecords.Response): (Long, String, String) = {
    val e = graft.functions.HtmlText.extract(
      new String(r.body, java.nio.charset.StandardCharsets.UTF_8)).get
    val d = r.uri.substring(r.uri.lastIndexOf("doc") + 3).toLong
    (d, r.uri, e.text)
  }

  /** DuckDB twin of the WARC→HTTP→HTML chain — shared by the batch
    * entry and the streaming twin's oracle.
    */
  private[graft] val WarcExtractSql: String =
    """SELECT doc_id,
      | 'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.test/doc'
      |   || CAST(doc_id AS VARCHAR) AS url,
      | CAST(200 AS INT) AS http_status,
      | 'Doc ' || CAST(doc_id AS VARCHAR) AS title,
      | CAST(length(list_filter(string_split(text, ' '), w -> w <> '')) + 4
      |   AS INT) AS n_words
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Typed HTML-extraction projection shared by the batch entry
    * (t_html_extract) and its streaming twin (st_html_extract): a
    * stateless per-row map, so stream rows equal batch rows by
    * construction.
    */
  private[graft] def htmlExtracted(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    Par.widen(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .map { case (d, text) =>
        val e = graft.functions.HtmlText
          .extract(graft.functions.HtmlText.syntheticHtml(d, text)).get
        (d, e.title, e.text, e.nParagraphs)
      }.toDF("doc_id", "title", "text_out", "n_paragraphs")
  }

  /** DuckDB closed form of the boilerplate-stripped page text the
    * WARC→HTTP→HTML chain yields per document — shared by the
    * t_html_extract oracle and d_web_pipeline's fetched-CTE (drift
    * guard).
    */
  private[graft] val HtmlTextOutSql: String =
    """array_to_string(list_concat(
      |   list_filter(string_split(text, ' '), w -> w <> ''),
      |   ['Tail', '&', '@', '<end>']), ' ')""".stripMargin

  /** DuckDB twin of [[htmlExtracted]] — shared by the batch entry and
    * the streaming twin's oracle.
    */
  private[graft] val HtmlExtractSql: String =
    s"""SELECT doc_id,
      | 'Doc ' || CAST(doc_id AS VARCHAR) AS title,
      | $HtmlTextOutSql AS text_out,
      | CAST(ceil(CAST(length(list_filter(string_split(text, ' '), w -> w <> ''))
      |   AS DOUBLE) / 10) AS INT) + 1 AS n_paragraphs
      |FROM documents ORDER BY doc_id""".stripMargin

  /** DSIR importance-weight frame shared by t_dsir_weight and
    * t_dsir_sample: (doc_id, n_tokens, logw_bits), unordered.
    */
  private[graft] def dsirWeights(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val B = 4096
    val toks = d.select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
      .withColumn("b", expr("substring(md5(term), 1, 3)"))
    val tc = toks.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val rc = toks.groupBy("b").agg(count(lit(1)).as("rc"))
    val totals = tc.agg(sum(col("tc")).as("nt"))
      .crossJoin(rc.agg(sum(col("rc")).as("nr")))
    toks.join(rc, Seq("b"))
      .join(tc, Seq("b"), "left")
      .na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           round(sum(
             log2((col("tc") + lit(0.5)) / (col("nt") + lit(0.5) * B)) -
             log2((col("rc") + lit(0.5)) / (col("nr") + lit(0.5) * B))), 4)
             .as("logw_bits"))
  }

  /** Fitted DSIR model as a dense 4096-entry log-ratio table: slot b
    * holds the per-token bits contribution log₂ p_target(b) − log₂
    * p_raw(b) under the same add-k smoothing [[dsirWeights]] applies
    * per token, computed by the SAME Spark column expressions so the
    * doubles are bit-identical to the batch path's per-token values.
    * Buckets no corpus token maps into stay 0.0 (never dereferenced
    * when scoring the corpus the model was fit on). 4096 doubles —
    * the "collect" is a fixed 32 KB model pull, not data movement;
    * this is the offline-fit half of the streaming scorer
    * (CorpusStreaming.dsirScore).
    */
  private[graft] def dsirModelLogRatios(d: org.apache.spark.sql.DataFrame): Array[Double] = {
    val B = 4096
    val toks = d.select(col("lang"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
      .withColumn("b", expr("substring(md5(term), 1, 3)"))
    val tc = toks.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val rc = toks.groupBy("b").agg(count(lit(1)).as("rc"))
    val totals = tc.agg(sum(col("tc")).as("nt"))
      .crossJoin(rc.agg(sum(col("rc")).as("nr")))
    val rows = rc.join(tc, Seq("b"), "left")
      .na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log2((col("tc") + lit(0.5)) / (col("nt") + lit(0.5) * B)) -
         log2((col("rc") + lit(0.5)) / (col("nr") + lit(0.5) * B))).as("lr"))
      .collect()
    val arr = new Array[Double](B)
    rows.foreach(r => arr(Integer.parseInt(r.getString(0), 16)) = r.getDouble(1))
    arr
  }

  /** DuckDB twin of [[dsirWeights]], no ORDER BY — shared by both
    * DSIR oracles.
    */
  private[graft] val DsirWeightSqlCore: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |t2 AS (SELECT doc_id, lang, substring(md5(term), 1, 3) AS b
      |       FROM toks WHERE term <> ''),
      |tc AS (SELECT b, COUNT(*) AS tc FROM t2 WHERE lang = 'en' GROUP BY 1),
      |rc AS (SELECT b, COUNT(*) AS rc FROM t2 GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(SUM(tc) AS BIGINT) FROM tc) AS nt,
      |               (SELECT CAST(SUM(rc) AS BIGINT) FROM rc) AS nr)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  ROUND(SUM(
      |    log2((COALESCE(tc, 0) + 0.5) / (nt + 0.5 * 4096)) -
      |    log2((rc + 0.5) / (nr + 0.5 * 4096))), 4) AS logw_bits
      |FROM t2 JOIN rc USING (b) LEFT JOIN tc USING (b) CROSS JOIN tot
      |GROUP BY doc_id""".stripMargin

  /** Tokenize-with-trained-vocabulary projection shared by the batch
    * entry (t_bpe_encode) and its streaming twin (st_bpe_encode): a
    * STATELESS map with the rank table in the closure (broadcast to
    * executors), so stream rows equal batch rows by construction. No
    * ordering here — a streaming frame cannot sort.
    *
    * Per-partition memo: pre-token frequency is Zipfian, so the merge
    * loop re-derives the same token count for the same word millions
    * of times on a real corpus. A bounded word→count cache (the same
    * trick HuggingFace `tokenizers` ships as its encode cache) makes
    * the common path a hash lookup; output is identical because the
    * cache only memoizes a pure function. The map lives one partition
    * deep — no cross-task state, nothing to coordinate at cluster
    * width — and is capped so a pathological all-distinct corpus
    * can't grow it past ~tens of MB per task.
    */
  private[graft] def bpeEncoded(docs: org.apache.spark.sql.DataFrame,
                                ranks: Map[(String, String), Int]): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Par.widen(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val cache = new java.util.HashMap[String, Long](1 << 12)
        val cacheCap = 1 << 17
        def tokenCount(w: String): Long = {
          val hit = cache.getOrDefault(w, -1L)
          if (hit >= 0L) hit
          else {
            val n = graft.functions.BpeTokenizer.encode(w, ranks).size.toLong
            if (cache.size < cacheCap) cache.put(w, n)
            n
          }
        }
        rows.map { case (id, text) =>
          val pretokens = BpePretokenRegex.findAllIn(text).toSeq
          val nBpe = pretokens.iterator.map(tokenCount).sum
          val nPre = pretokens.size.toLong
          val nChars = pretokens.iterator.map(_.length.toLong).sum
          (id, nPre, nBpe,
           if (nChars > 0) math.rint(nBpe.toDouble / nChars * 10000) / 10000 else 1.0)
        }
      }
      .toDF("doc_id", "n_pretokens", "n_bpe_tokens", "bpe_per_char")
  }

  /** The shared pre-tokenization classes of t_bpe_token_count. */
  private[graft] val BpePretokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"

  /** Pre-compiled once (java.util.regex.Pattern is Serializable, so
    * the compiled form ships in the closure) — compiling per document
    * row would be pure repeated work on the executor hot path.
    */
  private[graft] val BpePretokenRegex = BpePretokenPattern.r

  /** Corpus → word histogram → 200 BPE merges (see t_bpe_train). */
  private[graft] def learnBpe(t: Tables): Seq[graft.functions.BpeTokenizer.Merge] =
    learnBpeFrom(t.documents)

  /** [[learnBpe]] over any (doc_id, text) frame — prepareWeb trains on
    * its own survivor corpus rather than the raw table.
    */
  private[graft] def learnBpeFrom(docs: org.apache.spark.sql.DataFrame): Seq[graft.functions.BpeTokenizer.Merge] = {
    val words = docs
      .select(explode(expr(
        s"regexp_extract_all(text, '$BpePretokenPattern', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w"))
      .limit(50000)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    graft.functions.BpeTokenizer.learn(words, numMerges = 200)
  }
}
