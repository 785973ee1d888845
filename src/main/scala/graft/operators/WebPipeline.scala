package graft.operators

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** d_web_pipeline — the one-call WEB-corpus training-data pipeline
  * (api.TrainingData.prepareWeb) surfaced as its per-stage attrition
  * accounting, with a FULL DuckDB recomputation oracle: every stage's
  * survivor count is independently re-derived by chaining the
  * standalone entries' own oracle fragments (shared constants, so the
  * composite cannot drift from the gate-green pieces it composes):
  *
  *   raw → warc_fetch (HtmlTextOutSql closed form of the WARC→HTML
  *   chain) → robots_gate (RobotsAllowedSql) → url_dedup (closed-form
  *   RFC 3986 canonical keys, min-id keeper) → filter_gopher
  *   (GopherMetricColsSql + gopherPassCondSql(1) — the stopword floor
  *   re-thresholded, see prepareWeb's scaladoc) → filter_gopher_rep
  *   (gopherRepCtesSql + GopherRepPassCondSql — the A1.2 repetition
  *   battery) → filter_c4
  *   (C4PageSqlExpr + C4MetricColsSql + C4PassCondSql) →
  *   filter_fineweb (FwPageSqlExpr + FwMetricColsSql + FwPassCondSql)
  *   → exact_dedup (md5 min-id) → neardup_keepbest (Dedup.candSql's
  *   banded-LSH chain UNION the containment-probe chain over the same
  *   `sh` CTE — the short-doc arm, its threshold corpus-derived by
  *   the pthr integer-rank CTE — then the recursive-CTE closure + the
  *   d_keep_best quality argmax) → ccnet_keep (ccnetScoredCtesSql,
  *   tail tercile dropped) → [model_keep (the d_web_pipeline_model
  *   arm: qualityModelWeightsCtesSql training over urldedup +
  *   qualityModelScoreCtesSql over the ccnet survivors, bottom score
  *   decile dropped)] → final (split/pack adds columns, drops
  *   nothing).
  *
  * Every non-recursive CTE is MATERIALIZED: the stage-count UNION ALL
  * reads each stage once instead of re-inlining the whole upstream
  * chain per count (measured: 0.4 s vs > 5 min on the gate corpus),
  * and the recursive closure iterates over a materialized edge list
  * instead of re-deriving LSH per step.
  *
  * Reference anchor: this is the "one-call corpus preparation" the
  * reference's CLI pipelines (cmd/parsedmarc-go/main.go intake →
  * parse → enrich → store) compose for DMARC data, re-expressed for
  * the crawl-to-training-set domain the brief's LLM-pipeline surface
  * covers.
  */
object WebPipeline extends QueryModule {

  /** Stage names in pipeline order (shared by the entry, the oracle,
    * and WebPipelineSpec).
    */
  private[graft] val StageNames: Seq[String] = Seq(
    "raw", "warc_fetch", "robots_gate", "url_dedup", "filter_gopher",
    "filter_gopher_rep", "filter_c4", "filter_fineweb", "exact_dedup",
    "neardup_keepbest", "ccnet_keep", "final")

  /** Stage names for any arm combination — the ONE place the arm
    * insertion points live (prepareWeb's stage order is the contract:
    * substr_keep between the near-dup keeper and the ccnet cut,
    * model_keep after the ccnet cut, decontam_keep LAST before
    * split/pack — decontamination runs over whatever the upstream arms
    * kept, exactly as the published pipelines ship it).
    */
  private[graft] def stageNames(model: Boolean, substr: Boolean,
                                decontam: Boolean): Seq[String] = {
    val withSubstr =
      if (!substr) StageNames
      else {
        val (pre, post) = StageNames.span(_ != "ccnet_keep")
        pre ++ (Seq("substr_keep") ++ post)
      }
    withSubstr.init ++
      (if (model) Seq("model_keep") else Nil) ++
      (if (decontam) Seq("decontam_keep") else Nil) :+ "final"
  }

  /** Stage names with the model-quality arm on (d_web_pipeline_model):
    * the t_quality_model filter stage lands between the ccnet cut and
    * the split/pack tail.
    */
  private[graft] val StageNamesModel: Seq[String] =
    stageNames(model = true, substr = false, decontam = false)

  /** Stage names with the exact-substring coverage arm on
    * (d_web_pipeline_substr): the d_substring_dedup filter stage lands
    * between the near-dup keeper and the ccnet cut.
    */
  private[graft] val StageNamesSubstr: Seq[String] =
    stageNames(model = false, substr = true, decontam = false)

  /** Stage names with the benchmark-decontamination arm on
    * (d_web_pipeline_decontam): the flag-and-drop eval-leak filter
    * lands between the ccnet cut and the split/pack tail.
    */
  private[graft] val StageNamesDecontam: Seq[String] =
    stageNames(model = false, substr = false, decontam = true)

  /** All three arms on (d_web_pipeline_full) — the 15-stage shape every
    * cited production pipeline actually ships (FineWeb: rules + dedup +
    * model quality; GPT-3/PaLM: everything + decontamination).
    */
  private[graft] val StageNamesFull: Seq[String] =
    stageNames(model = true, substr = true, decontam = true)

  /** Closed-form canonical URL of the doc_id-derived raw variant
    * prepareWeb feeds through functions.UrlCanonical: scheme/host case
    * folds, the explicit :443 default port drops, /d/../ dot-segments
    * remove, the #frag strips — and every 10th doc (doc_id % 10 = 7)
    * keys onto its predecessor's URL, the collision the dedup acts on.
    */
  /** prepareWeb's short-doc probe threshold is CORPUS-DERIVED (the
    * smallest shingle count covering the bottom decile of battery
    * survivors — see prepareWeb's in-body comment; round 13's fixed
    * 100 spanned most of the gate corpus's survivor lengths, so the
    * probe arm ran as a second corpus-wide pass). The oracle's
    * pthr CTE recomputes the identical integer-rank derivation.
    */

  private val urlKeySql =
    "(doc_id - CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END)"
  private val canonUrlSql =
    s"'https://site' || CAST($urlKeySql % 5 AS VARCHAR) || '.test/doc/' || CAST($urlKeySql AS VARCHAR)"

  /** Minted partial-duplicate SQL for the substr-arm gate (see the
    * d_web_pipeline_substr entry comment): the first ~60% of a source
    * doc's words plus short unique z-hex tail words to the original
    * word count — battery-shaped like its source, Jaccard ≈ 0.43
    * (below BOTH near-dup arms' 0.5 tau), span coverage ≈ 0.6 (above
    * the substr stage's one-half drop line).
    */
  private val substrMintHeadSql =
    "(3 * len(string_split(text, ' ')) + 4) // 5"
  private val substrMintHeadSpark = "(3 * size(split(text, ' ')) + 4) div 5"
  private val substrMintTailSpark = s"size(split(text, ' ')) - ($substrMintHeadSpark)"

  /** Spark twin of [[substrMintTextSql]] — byte-identical output (the
    * greatest+slice dance exists because Spark's sequence(1, 0)
    * DESCENDS where DuckDB's generate_series(1, 0) is empty).
    */
  private[graft] val substrMintTextSpark: String =
    s"""concat(
       |  array_join(slice(split(text, ' '), 1, $substrMintHeadSpark), ' '),
       |  ' ',
       |  array_join(slice(
       |    transform(sequence(1, greatest($substrMintTailSpark, 1)),
       |      j -> concat('z', substring(md5(concat('t', CAST(doc_id AS STRING), 'w', CAST(j AS STRING))), 1, 3))),
       |    1, $substrMintTailSpark), ' '))""".stripMargin
  private val substrMintTextSql =
    s"""array_to_string(list_slice(string_split(text, ' '), 1, $substrMintHeadSql), ' ') || ' ' ||
       |array_to_string(list_transform(
       |  generate_series(1, len(string_split(text, ' ')) - $substrMintHeadSql),
       |  j -> 'z' || substr(md5('t' || CAST(doc_id AS VARCHAR) || 'w' || CAST(j AS VARCHAR)), 1, 3)),
       |  ' ')""".stripMargin

  /** The substr-arm gate corpus: `docs`' (doc_id, text) plus a minted
    * partial duplicate ([[substrMintTextSpark]]) of every doc with
    * doc_id % 20 = 3, its id offset by 420,000,000,000.
    */
  private[graft] def withSubstrMints(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 20 === 3)
      .select((col("doc_id") + 420000000000L).as("doc_id"),
        expr(substrMintTextSpark).as("text")))
  }

  /** The decontam-arm eval set: a 120-char verbatim excerpt of the
    * extracted text (WARC → HTML → text, the text the battery sees) of
    * every doc with doc_id % 20 = 5.
    */
  private[graft] def evalExcerpts(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    TextAnalysis.warcBlobs(docs.filter(col("doc_id") % 20 === 5))
      .flatMap { case (_, blob) =>
        graft.functions.WarcRecords.parse(blob).getOrElse(Seq.empty)
          .map(TextAnalysis.warcPageText)
      }.toDF("doc_id", "url", "text")
      .filter(length(col("text")) >= 49)
      .select(expr("substring(text, 10, 120)").as("text"))
  }

  /** prepareWeb's attrition accounting as `(stage_idx, stage, n_docs)`
    * rows in stage order: the frame every web-pipeline entry and scale
    * cell returns.
    */
  private[graft] def stageRows(p: graft.api.TrainingData.PreparedWeb): DataFrame = {
    import p.corpus.sparkSession.implicits._
    p.stages.zipWithIndex
      .map { case ((st, n), i) => (i, st, n) }
      .toDF("stage_idx", "stage", "n_docs")
      .orderBy("stage_idx")
  }

  private def oracleSql(model: Boolean, substr: Boolean = false,
                        decontam: Boolean = false): String = {
    val T = TextAnalysis
    val names = stageNames(model, substr, decontam)
    val base = if (substr) "srcdocs" else "documents"
    val stageCounts = names.zipWithIndex.map { case (s, i) =>
      val rel = s match {
        case "raw" => base
        case "warc_fetch" => "fetched"
        case "robots_gate" => "robots"
        case "url_dedup" => "urldedup"
        case "filter_gopher" => "gkeep"
        case "filter_gopher_rep" => "grkeep"
        case "filter_c4" => "c4keep"
        case "filter_fineweb" => "fwkeep"
        case "exact_dedup" => "exdedup"
        case "neardup_keepbest" => "neardup"
        case "substr_keep" => "substrkeep"
        case "ccnet_keep" => "ccnet"
        case "model_keep" => "modelkeep"
        case "decontam_keep" => "decontamkeep"
        case "final" => "finalout"
      }
      if (i == 0)
        s"SELECT $i AS stage_idx, '$s' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM $rel"
      else s"SELECT $i, '$s', COUNT(*) FROM $rel"
    }.mkString("\n  UNION ALL ")
    // the model arm: train over urldedup (labels still carry both
    // classes there), score the ccnet survivors, drop their bottom
    // score decile. The cut is the probe threshold's integer-rank
    // derivation over DISTINCT round(6) scores — never a float
    // quantile's interpolation cross-engine — keep score STRICTLY
    // above the smallest score whose cumulative count covers
    // ceil(n/10).
    val modelCtes = if (!model) "" else
      s"""${materialize(T.qualityModelWeightsCtesSql("urldedup", "qm"))},
         |${materialize(T.qualityModelScoreCtesSql("ccnet", "qm", "qs"))},
         |qneed AS (SELECT (COUNT(*) + 9) // 10 AS need FROM qsscored),
         |qcum AS MATERIALIZED (SELECT score, SUM(COUNT(*)) OVER (ORDER BY score) AS cum
         |  FROM qsscored GROUP BY score),
         |qthr AS MATERIALIZED (SELECT MIN(score) AS thr FROM qcum CROSS JOIN qneed
         |  WHERE cum >= need),
         |modelkeep AS MATERIALIZED (SELECT c.doc_id, c.text FROM ccnet c
         |  JOIN qsscored s USING (doc_id) CROSS JOIN qthr WHERE s.score > qthr.thr),
         |""".stripMargin
    // the decontamination arm: the eval set is the excerpt mint below
    // (verbatim 120-char cuts of the EXTRACTED text of every 20th doc —
    // the text the pipeline actually sees), its distinct 40-char grams
    // mark any upstream-arm survivor sharing one, marked docs drop —
    // the arm scans whatever the model arm (if on) or the ccnet cut
    // kept, mirroring prepareWeb's stage order. Same gram arithmetic as
    // the substr arm's sgr chain; only the reduction differs
    // (EXISTS-a-shared-gram instead of merged-span coverage).
    val dsrc = if (model) "modelkeep" else "ccnet"
    val decontamCtes = if (!decontam) "" else
      s"""dev AS MATERIALIZED (SELECT substr(text, 10, 120) AS text FROM fetched
         |  WHERE doc_id % 20 = 5 AND len(text) >= 49),
         |devg AS MATERIALIZED (SELECT DISTINCT substr(text, pos + 1, 40) AS gram FROM (
         |  SELECT text, unnest(generate_series(0, len(text) - 40)) AS pos
         |  FROM dev WHERE len(text) >= 40)),
         |dmk AS MATERIALIZED (SELECT DISTINCT g.doc_id FROM (
         |  SELECT doc_id, substr(text, pos + 1, 40) AS gram FROM (
         |    SELECT doc_id, text, unnest(generate_series(0, len(text) - 40)) AS pos
         |    FROM $dsrc WHERE len(text) >= 40)) g
         |  SEMI JOIN devg USING (gram)),
         |decontamkeep AS MATERIALIZED (SELECT c.doc_id, c.text FROM $dsrc c
         |  ANTI JOIN dmk USING (doc_id)),
         |""".stripMargin
    val finalSrc = if (decontam) "decontamkeep"
                   else if (model) "modelkeep"
                   else "ccnet"
    // the substr arm: duplicated-span coverage over the near-dup
    // survivors (the d_substring_dedup oracle's gram/islands chain,
    // reduced to a coverage SUM — the stage only needs the residue
    // LENGTH, never the rebuilt text), drop docs more than half covered
    val ccSrc = if (substr) "substrkeep" else "neardup"
    val srcCte = if (!substr) "" else
      s"""srcdocs AS MATERIALIZED (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 420000000000, $substrMintTextSql
         |  FROM documents WHERE doc_id % 20 = 3),
         |""".stripMargin
    val substrCtes = if (!substr) "" else
      s"""sq0 AS MATERIALIZED (SELECT doc_id, text, unnest(generate_series(0, len(text) - 40)) AS pos
         |  FROM neardup WHERE len(text) >= 40),
         |sgr AS MATERIALIZED (SELECT doc_id, pos, substr(text, pos + 1, 40) AS gram FROM sq0),
         |sdup AS MATERIALIZED (SELECT gram FROM sgr GROUP BY 1 HAVING COUNT(*) >= 2),
         |smk AS MATERIALIZED (SELECT sgr.doc_id, sgr.pos FROM sgr SEMI JOIN sdup USING (gram)),
         |${materialize(Dedup.spanIslandsSql("smk", "s"))},
         |scov AS MATERIALIZED (SELECT doc_id, SUM(e - s) AS covered FROM ssp GROUP BY 1),
         |substrkeep AS MATERIALIZED (SELECT n.doc_id, n.text FROM neardup n
         |  LEFT JOIN scov c USING (doc_id)
         |  WHERE COALESCE(c.covered, 0) * 2 <= len(n.text)),
         |""".stripMargin
    s"""WITH RECURSIVE
       |${srcCte}fetched AS MATERIALIZED (SELECT doc_id, ${T.HtmlTextOutSql} AS text FROM $base),
       |robots AS MATERIALIZED (SELECT doc_id, text FROM fetched WHERE ${T.RobotsAllowedSql}),
       |urlkey AS MATERIALIZED (SELECT doc_id, text, $canonUrlSql AS canon FROM robots),
       |urlmin AS MATERIALIZED (SELECT canon, MIN(doc_id) AS keeper FROM urlkey GROUP BY 1),
       |urldedup AS MATERIALIZED (SELECT u.doc_id, u.text FROM urlkey u JOIN urlmin m
       |  ON u.canon = m.canon AND u.doc_id = m.keeper),
       |gm AS MATERIALIZED (SELECT doc_id, text,
       |  ${T.GopherMetricColsSql}
       |  FROM urldedup),
       |gkeep AS MATERIALIZED (SELECT doc_id, text FROM gm
       |  WHERE ${T.gopherPassCondSql(1)}),
       |${materialize(T.gopherRepCtesSql("gkeep", "gr"))},
       |grkeep AS MATERIALIZED (SELECT b.doc_id, k.text FROM grbase b
       |  LEFT JOIN grtp USING (doc_id) LEFT JOIN grdp USING (doc_id)
       |  JOIN gkeep k USING (doc_id)
       |  WHERE ${T.GopherRepPassCondSql}),
       |c4p AS MATERIALIZED (SELECT doc_id, text AS orig_text, ${T.C4PageSqlExpr} AS text FROM grkeep),
       |c4m AS MATERIALIZED (SELECT doc_id, orig_text,
       |  ${T.C4MetricColsSql}
       |  FROM c4p),
       |c4s AS MATERIALIZED (SELECT doc_id, orig_text,
       |  ${T.C4SentenceSumSql} AS n_sentences,
       |  has_lorem, has_brace
       |  FROM c4m),
       |c4keep AS MATERIALIZED (SELECT doc_id, orig_text AS text FROM c4s
       |  WHERE ${T.C4PassCondSql}),
       |fwp AS MATERIALIZED (SELECT doc_id, text AS orig_text, ${T.FwPageSqlExpr} AS text FROM c4keep),
       |fwl AS MATERIALIZED (SELECT doc_id, orig_text, string_split(text, chr(10)) AS lines,
       |  list_sort(string_split(text, chr(10))) AS slines FROM fwp),
       |fwm AS MATERIALIZED (SELECT doc_id, orig_text,
       |  ${T.FwMetricColsSql}
       |  FROM fwl),
       |fwkeep AS MATERIALIZED (SELECT doc_id, orig_text AS text FROM fwm
       |  WHERE ${T.FwPassCondSql}),
       |exmin AS MATERIALIZED (SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM fwkeep GROUP BY 1),
       |exdedup AS MATERIALIZED (SELECT f.doc_id, f.text FROM fwkeep f JOIN exmin m
       |  ON md5(f.text) = m.h AND f.doc_id = m.keeper),
       |${materialize(Dedup.candSql(Dedup.MaxBucket, "exdedup"))},
       |jac AS MATERIALIZED (SELECT doc_a, doc_b,
       |  ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
       |pidx AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh),
       |phot AS MATERIALIZED (SELECT g FROM pidx GROUP BY 1 HAVING COUNT(*) > ${Dedup.MaxBucket}),
       |pok AS MATERIALIZED (SELECT pidx.* FROM pidx ANTI JOIN phot USING (g)),
       |psz AS MATERIALIZED (SELECT len(sh) AS nsh FROM sh),
       |pneed AS (SELECT (COUNT(*) + 9) // 10 AS need FROM psz),
       |pcum AS MATERIALIZED (SELECT nsh, SUM(COUNT(*)) OVER (ORDER BY nsh) AS cum
       |  FROM psz GROUP BY nsh),
       |pthr AS MATERIALIZED (SELECT MIN(nsh) AS thr FROM pcum CROSS JOIN pneed
       |  WHERE cum >= need),
       |pprobe AS MATERIALIZED (SELECT o.doc_id AS doc_a, o.g FROM pok o
       |  JOIN sh ON sh.doc_id = o.doc_id
       |  WHERE len(sh.sh) <= (SELECT thr FROM pthr)),
       |pcand AS MATERIALIZED (SELECT DISTINCT doc_a, i.doc_id AS doc_b
       |  FROM pprobe JOIN pok i USING (g) WHERE doc_a <> i.doc_id),
       |pv AS MATERIALIZED (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b,
       |    ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh), 4) AS c
       |  FROM pcand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
       |  WHERE c >= 0.5),
       |allpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
       |  UNION SELECT LEAST(doc_a, doc_b), GREATEST(doc_a, doc_b) FROM pv),
       |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM allpairs
       |          UNION SELECT doc_b, doc_a FROM allpairs),
       |reach AS (SELECT a AS src, b AS dst FROM edges
       |          UNION
       |          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |cl AS MATERIALIZED (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
       |       FROM reach GROUP BY src),
       |q AS MATERIALIZED (SELECT doc_id, ${T.QualityExprSql} AS quality FROM exdedup),
       |rnk AS MATERIALIZED (SELECT cl.cluster_id, cl.doc_id,
       |  ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
       |    ORDER BY q.quality DESC, cl.doc_id) AS rn
       |  FROM cl JOIN q USING (doc_id)),
       |losers AS MATERIALIZED (SELECT doc_id FROM rnk WHERE rn > 1),
       |neardup AS MATERIALIZED (SELECT e.doc_id, e.text FROM exdedup e ANTI JOIN losers l USING (doc_id)),
       |${substrCtes}${materialize(T.ccnetScoredCtesSql(ccSrc))},
       |ccnet AS MATERIALIZED (SELECT n.doc_id, n.text FROM $ccSrc n JOIN scored s USING (doc_id)
       |  CROSS JOIN cuts WHERE s.surprisal <= cuts.c2),
       |${modelCtes}${decontamCtes}finalout AS MATERIALIZED (SELECT doc_id FROM $finalSrc)
       |SELECT * FROM (
       |  $stageCounts
       |) ORDER BY stage_idx""".stripMargin
  }

  /** Rewrite each top-level `name AS (` CTE head in a fragment to
    * `name AS MATERIALIZED (` — the fragments are shared verbatim with
    * entry oracles that don't need the hint, so it is applied here
    * rather than baked into the shared text.
    */
  private def materialize(ctes: String): String =
    ctes.replaceAll("(?m)^(\\w+) AS \\(", "$1 AS MATERIALIZED (")

  override def entries: Seq[QueryDef] = Seq(
    QueryDef(
      "d_web_pipeline",
      (s, dir) => stageRows(graft.api.TrainingData.prepareWeb(
        Tables(s, dir).documents, oracleHash = true)),
      Some(oracleSql(model = false)),
    ),
    // the model-quality arm (FineWeb-Edu deployment): same composite
    // with the t_quality_model classifier as a 13th attrition stage —
    // trained over the url-deduped corpus, scoring the ccnet
    // survivors, bottom score decile dropped. The oracle recomputes
    // the ENTIRE training (3 GD steps, 12-dp weight contract) and
    // scoring as chained CTEs on top of the base pipeline chain.
    QueryDef(
      "d_web_pipeline_model",
      (s, dir) => stageRows(graft.api.TrainingData.prepareWeb(
        Tables(s, dir).documents, oracleHash = true, modelQuality = true)),
      Some(oracleSql(model = true)),
    ),
    // the exact-substring coverage arm (d_substring_dedup deployed as
    // a pipeline stage): near-dup survivors more than half covered by
    // 40-char spans duplicated among the survivors DROP. The gate
    // mints a partial duplicate per 20th doc — ~60% word-prefix of its
    // source plus short unique tail words — shaped to pass the filter
    // battery like its source while sitting in the near-dup blind
    // spot: Jaccard ≈ 0.43 (below the 0.5 verification tau on both
    // candidate arms, so BOTH copies reach the substr stage) with span
    // coverage ≈ 0.6 (above the one-half drop line, so BOTH then
    // drop). The oracle recomputes the mint, the full base chain, and
    // the coverage arithmetic (gram → ≥2 group → islands → Σ(e−s))
    // from scratch.
    QueryDef(
      "d_web_pipeline_substr",
      (s, dir) => stageRows(graft.api.TrainingData.prepareWeb(
        withSubstrMints(Tables(s, dir).documents), oracleHash = true, exactSubstr = true)),
      Some(oracleSql(model = false, substr = true)),
    ),
    // the benchmark-decontamination arm (the filter every published
    // production pipeline runs before a corpus ships — GPT-3 appendix
    // C, PaLM §6.1): ccnet survivors sharing ANY stride-1 40-char gram
    // with the eval set DROP, with their own attrition row. The gate's
    // eval set is minted from the corpus itself: verbatim 120-char
    // excerpts of the EXTRACTED text (the text the pipeline sees — the
    // raw documents never reach the battery) of every 20th doc, so
    // each surviving excerpt source is a guaranteed leak. Flag-and-drop
    // keeps the strictly-nested stage contract; the span-cut REWRITE
    // stays the standalone d_decontaminate_scrub entry. The oracle
    // recomputes the mint, the gram marking, and the anti join on top
    // of the full base chain; the Spark side marks via the rolling-hash
    // kernel + exact confirm (Dedup.contaminatedPositions), which the
    // shared-gram semantics make hash-path invisible.
    QueryDef(
      "d_web_pipeline_decontam",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        stageRows(graft.api.TrainingData.prepareWeb(
          docs, oracleHash = true, decontaminateEval = Some(evalExcerpts(docs))))
      },
      Some(oracleSql(model = false, decontam = true)),
    ),
    // ALL THREE ARMS COMPOSED — the 15-stage shape every cited
    // production pipeline actually ships (FineWeb: rules + dedup +
    // model quality; GPT-3/PaLM: everything + decontamination). The
    // single-arm entries verify each arm in isolation; this entry
    // verifies the COMPOSITION — the stage-interaction surface (the
    // model decile cut re-deriving over post-substr survivors, the
    // decontam scan running over the model survivors) that one-arm
    // gates structurally cannot see. Gate fixtures are the union of
    // the single-arm entries': the substr arm's minted ~60%-overlap
    // partial duplicates (doc_id % 20 = 3 sources) AND the decontam
    // arm's verbatim-excerpt eval mint (doc_id % 20 = 5 sources —
    // disjoint residues, so each arm's drops stay attributable). The
    // oracle chains the model, substr, and decontam CTE blocks over
    // ONE base chain in prepareWeb's stage order.
    QueryDef(
      "d_web_pipeline_full",
      (s, dir) => {
        val docs = withSubstrMints(Tables(s, dir).documents)
        stageRows(graft.api.TrainingData.prepareWeb(
          docs, oracleHash = true, modelQuality = true, exactSubstr = true,
          decontaminateEval = Some(evalExcerpts(docs))))
      },
      Some(oracleSql(model = true, substr = true, decontam = true)),
    ),
  )
}
