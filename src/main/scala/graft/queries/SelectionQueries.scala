package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.CacheScope.Scoped
import graft.core.Tables
import graft.ops.{Budget, C4Filter, GopherQuality, Pack, TextAnalysis}

/** Corpus-selection queries: the published Gopher quality gate, the
  * staged filter-funnel attrition report every curation run ships
  * with, and token-budget greedy selection.
  */
object SelectionQueries extends graft.QueryModule {

  /** Full Gopher quality rule set per document
    * ([[GopherQuality.report]]). Published thresholds except
    * `minStopwords = 1`: the synthetic vocabulary carries only one
    * member of the published 8-word list ("the"), so the published
    * `>= 2` would reject every document and the rule would gate
    * vacuously — at 1 it separates documents that carry the common
    * determiner from those that don't. */
  def qGopherQuality(s: SparkSession, dir: String): DataFrame =
    GopherQuality.report(Tables.documents(s, dir),
        textCol = "text", idCol = "doc_id", minStopwords = 1)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Shared metric CTE for the Gopher rules: from `documents` to
    * `${p}gm` — one row per doc with every rule-input count. The
    * counts and their names live HERE, once (also replayed by
    * [[qFilterFunnelSql]]). */
  private def gopherCtes(p: String): String =
    s"""${p}gt AS (SELECT doc_id, text, str_split(text, ' ') AS w,
       |        str_split(text, chr(10)) AS l FROM documents),
       |${p}gm AS (SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
       |    CAST(length(text) - length(replace(text, '#', ''))
       |      AS BIGINT) AS n_hash,
       |    CAST((length(text) - length(replace(text, '...', ''))) // 3
       |      AS BIGINT) AS n_ellipsis,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter(
       |        ['the','be','to','of','and','that','have','with'],
       |        s -> list_contains(w, s))) AS BIGINT) AS n_stop,
       |    CAST(len(l) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(l, x -> x LIKE '-%' OR x LIKE '•%'))
       |      AS BIGINT) AS n_bullet,
       |    CAST(len(list_filter(l, x -> x LIKE '%...'))
       |      AS BIGINT) AS n_ell_end
       |  FROM ${p}gt)""".stripMargin

  /** The per-rule flag expressions over a [[gopherCtes]] `gm` row,
    * with `minStopwords` the one corpus-adapted threshold. */
  private def gopherFlagsSql(minStop: Int): Seq[(String, String)] = Seq(
    "rule_words" -> "n_words >= 50 AND n_words <= 100000",
    "rule_mean_len" ->
      "word_chars >= 3 * n_words AND word_chars <= 10 * n_words",
    "rule_symbol" ->
      "10 * n_hash <= 1 * n_words AND 10 * n_ellipsis <= 1 * n_words",
    "rule_alpha" -> "5 * n_alpha >= 4 * n_words",
    "rule_stopwords" -> s"n_stop >= $minStop",
    "rule_bullet" -> "10 * n_bullet <= 9 * n_lines",
    "rule_ellipsis" -> "10 * n_ell_end <= 3 * n_lines")

  val qGopherQualitySql: String = {
    val flags = gopherFlagsSql(minStop = 1)
    val flagCols = flags
      .map { case (n, e) => s"CAST($e AS BIGINT) AS $n" }.mkString(",\n  ")
    val keep = flags.map { case (n, e) => s"($e)" }.mkString(" AND ")
    s"""WITH ${gopherCtes("")}
      |SELECT doc_id, n_words,
      |  word_chars / n_words AS mean_word_len,
      |  (n_hash + n_ellipsis) / n_words AS symbol_ratio,
      |  n_alpha / n_words AS alpha_word_frac,
      |  n_stop AS n_rule_stopwords,
      |  $flagCols,
      |  CAST($keep AS BIGINT) AS keep
      |FROM gm ORDER BY doc_id""".stripMargin
  }

  /** Staged filter-funnel attrition report — the accounting artifact
    * every curation run ships with: how many documents (and tokens)
    * survive each successive gate. Stages: all docs → language gate
    * (`lang = 'en'`) → Gopher quality keep → non-repetitive → exact
    * first-wins dedup among the remaining docs.
    *
    * Scale shape: all per-doc flags are computed in ONE pass over the
    * corpus (the Gopher flags are scan-stage expressions; repetition
    * adds its slim bigram aggregate), cached, and every stage count
    * is a conditional sum over that one frame — the corpus is never
    * re-filtered per stage. The dedup stage ranks within
    * `md5(text)` groups over stage-3 survivors only (partition-local
    * window). Output is 5 rows. */
  def qFilterFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.report(Tables.documents(s, dir),
      textCol = "text", idCol = "doc_id", langCol = "lang")

  /** Per-doc repetitive-flag CTE chain (cross-engine twin of
    * [[TextAnalysis.repetitionReport]]'s flag at 0.1): from
    * `documents` to `rtop` (doc_id, repetitive). The flag threshold
    * and top-bigram fold live HERE, once (shared by
    * [[qFilterFunnelSql]] and [[qSelectionE2eSql]]). The oracle
    * computes the flag for EVERY doc where the Spark entries restrict
    * the aggregate to the English subset — sound because both only
    * consume the flag behind the lang gate (absent ids coalesce
    * to 0). */
  private val repetitionCtes: String =
    """rt AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
      |rm AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tokens
      |      FROM rt WHERE len(w) >= 2),
      |rbi AS (SELECT doc_id, n_tokens, w[i] || ' ' || w[i+1] AS g
      |       FROM rm, UNNEST(generate_series(1, len(w)-1)) AS u(i)),
      |rcnt AS (SELECT doc_id, n_tokens, g, CAST(count(*) AS BIGINT) AS n
      |        FROM rbi GROUP BY doc_id, n_tokens, g),
      |rtop AS (SELECT doc_id,
      |          CAST(max(n) / (any_value(n_tokens) - 1) >= 0.1 AS BIGINT)
      |            AS repetitive
      |        FROM rcnt GROUP BY doc_id)""".stripMargin

  /** The funnel's flag + survivor CTE chain (cross-engine twin of
    * [[graft.ops.Funnel.flags]]/`uniqueWithin`): from `documents` to
    * `f` (id, fp, n_words, f1..f3) and `surv` (stage-4 survivors) —
    * shared by [[qFilterFunnelSql]] and the continuous-curation
    * oracle ([[StreamQueries.qCurateStreamSql]]). */
  private[queries] val funnelCtes: String = {
    val keep = gopherFlagsSql(minStop = 1)
      .map { case (_, e) => s"($e)" }.mkString(" AND ")
    s"""${gopherCtes("")},
      |gk AS (SELECT doc_id, CAST($keep AS BIGINT) AS gopher FROM gm),
      |$repetitionCtes,
      |f AS (SELECT d.doc_id AS id, md5(d.text) AS fp,
      |    CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_words,
      |    CAST(d.lang = 'en' AS BIGINT) AS f1,
      |    CAST(d.lang = 'en' AND gk.gopher = 1 AS BIGINT) AS f2,
      |    CAST(d.lang = 'en' AND gk.gopher = 1
      |      AND COALESCE(r.repetitive, 0) = 0 AS BIGINT) AS f3
      |  FROM documents d
      |  JOIN gk USING (doc_id)
      |  LEFT JOIN rtop r USING (doc_id)),
      |surv AS (SELECT id, n_words FROM (
      |    SELECT id, n_words, row_number() OVER (
      |      PARTITION BY fp ORDER BY id) AS rn FROM f WHERE f3 = 1)
      |  WHERE rn = 1)""".stripMargin
  }

  val qFilterFunnelSql: String = {
    s"""WITH $funnelCtes
      |SELECT CAST(0 AS BIGINT) AS stage_idx, 'total' AS stage,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(COALESCE(sum(n_words), 0) AS BIGINT) AS n_tokens FROM f
      |UNION ALL SELECT 1, 'lang_en', CAST(count(*) AS BIGINT),
      |  CAST(COALESCE(sum(n_words), 0) AS BIGINT) FROM f WHERE f1 = 1
      |UNION ALL SELECT 2, 'gopher', CAST(count(*) AS BIGINT),
      |  CAST(COALESCE(sum(n_words), 0) AS BIGINT) FROM f WHERE f2 = 1
      |UNION ALL SELECT 3, 'non_repetitive', CAST(count(*) AS BIGINT),
      |  CAST(COALESCE(sum(n_words), 0) AS BIGINT) FROM f WHERE f3 = 1
      |UNION ALL SELECT 4, 'unique', CAST(count(*) AS BIGINT),
      |  CAST(COALESCE(sum(n_words), 0) AS BIGINT) FROM surv
      |ORDER BY stage_idx""".stripMargin
  }

  /** Token-budget greedy selection ([[Budget.select]]): score = en
    * stopword hits per million words (integer ppm), budget = half the
    * corpus's tokens; keep the best-scoring docs until the budget is
    * spent. The total-token budget is one bounded 1-row action; the
    * selection itself never builds a global window. */
  def qBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val stops = TextAnalysis.langStopwords.head._2
    val base = Tables.documents(s, dir).select(
      col("doc_id").as("id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      TextAnalysis.stopwordHits(split(col("text"), " "), stops).as("hits"))
      .withColumn("score", expr("hits * 1000000 DIV n_tokens"))
      .scopedCache()
    // coalesce: never NPE on an empty frame's NULL sum
    val budget = base
      .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0) / 2
    Budget.select(base, "id", "score", "n_tokens", budget)
      .select(col("id").as("doc_id"), col("score").as("score_ppm"),
        col("n_tokens"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val qBudgetSelectSql: String =
    """WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
      |m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(w,
      |      x -> list_contains(['the','a','of','and','to'], x)))
      |      AS BIGINT) AS hits
      |  FROM t),
      |s AS (SELECT doc_id, n_tokens,
      |    hits * 1000000 // n_tokens AS score FROM m),
      |b AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget FROM s),
      |r AS (SELECT doc_id, score, n_tokens,
      |    COALESCE(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_excl
      |  FROM s)
      |SELECT doc_id, score AS score_ppm, n_tokens,
      |  CAST(cum_excl < b.budget AS BIGINT) AS keep
      |FROM r CROSS JOIN b ORDER BY doc_id""".stripMargin

  /** C4 cleaning rules ([[C4Filter.report]], published thresholds).
    * The synthetic corpus is single-line without terminal
    * punctuation, so the cleaned text is empty and no page survives —
    * the entry gates the cross-engine line/page machinery on real
    * data (the q_text_clean precedent); `SelectionSpec` plants
    * multi-line docs and proves each rule fires. */
  def qC4Filter(s: SparkSession, dir: String): DataFrame =
    C4Filter.report(Tables.documents(s, dir), "text", "doc_id",
        blocklist = Seq("nsfw", "explicit"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  val qC4FilterSql: String =
    """WITH t AS (SELECT doc_id, text, lower(text) AS lt,
      |    list_transform(str_split(text, chr(10)),
      |      x -> trim(x, ' ' || chr(13))) AS ls
      |  FROM documents),
      |k AS (SELECT doc_id, text, lt,
      |    CAST(len(ls) AS BIGINT) AS n_lines,
      |    list_filter(ls, x -> regexp_matches(x, '[.!?"]$')
      |      AND len(str_split(x, ' ')) >= 5
      |      AND NOT contains(lower(x), 'javascript')) AS kl,
      |    CAST(list_contains(str_split_regex(lt, '[ \n\r]'), 'nsfw')
      |      OR list_contains(str_split_regex(lt, '[ \n\r]'), 'explicit')
      |      AS BIGINT) AS has_badword
      |  FROM t)
      |SELECT doc_id,
      |  -- array_to_string([]) is NULL in DuckDB; Spark's array_join
      |  -- of an empty array is '' — pin the Spark semantics
      |  COALESCE(array_to_string(kl, chr(10)), '') AS clean_text,
      |  n_lines,
      |  CAST(len(kl) AS BIGINT) AS n_kept_lines,
      |  CAST(contains(lt, 'lorem ipsum') AS BIGINT) AS has_lorem,
      |  CAST(contains(text, '{') AS BIGINT) AS has_brace,
      |  has_badword,
      |  CAST(len(kl) >= 3 AND NOT contains(lt, 'lorem ipsum')
      |    AND NOT contains(text, '{') AND has_badword = 0
      |    AS BIGINT) AS keep
      |FROM k ORDER BY doc_id""".stripMargin

  /** Composed SELECTION pipeline: language gate → Gopher quality →
    * repetition filter → token-budget greedy selection (half the
    * eligible tokens) → context packing of the selected docs. The
    * output is the pack layout a loader would read; every upstream
    * stage moves it, so one oracle statement gates the whole chain
    * (the q_curation_e2e contract, over this session's selection
    * stages). */
  def qSelectionE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // bigram aggregate over the English subset only (the flag is
    // consumed behind the lang filter; see qFilterFunnel)
    val rep = TextAnalysis.repetitionReport(
        docs.filter(col("lang") === "en"), "text", "doc_id", flagAt = 0.1)
      .select(col("id"), col("repetitive"))
    val stops = TextAnalysis.langStopwords.head._2
    // Gopher gate inlined (per-row expression), not joined
    val eligible = docs
      .select(col("doc_id").as("id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        TextAnalysis.stopwordHits(split(col("text"), " "), stops).as("hits"),
        GopherQuality.keepColumn(col("text"), minStopwords = 1)
          .as("gopher"))
      .join(rep, Seq("id"), "left")
      .filter(col("lang") === "en" && col("gopher") === 1 &&
        coalesce(col("repetitive"), lit(0L)) === 0)
      .withColumn("score", expr("hits * 1000000 DIV n_tokens"))
      .scopedCache()
    // coalesce: an empty eligible set must yield budget 0 (and an
    // empty layout), not a driver-side NPE on the NULL aggregate
    val budget = eligible
      .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0) / 2
    val selected = Budget.select(eligible, "id", "score", "n_tokens", budget)
      .filter(col("keep") === 1)
    Pack.packSummaryOn(selected.select(col("id"), col("n_tokens")),
      "id", col("n_tokens"), budget = 512L, nShards = 8)
  }

  val qSelectionE2eSql: String = {
    val keep = gopherFlagsSql(minStop = 1)
      .map { case (_, e) => s"($e)" }.mkString(" AND ")
    s"""WITH ${gopherCtes("")},
      |gk AS (SELECT doc_id, CAST($keep AS BIGINT) AS gopher FROM gm),
      |$repetitionCtes,
      |el AS (SELECT d.doc_id, CAST(len(str_split(d.text, ' ')) AS BIGINT)
      |      AS n_tokens,
      |    CAST(len(list_filter(str_split(d.text, ' '),
      |      x -> list_contains(['the','a','of','and','to'], x)))
      |      AS BIGINT) AS hits
      |  FROM documents d
      |  JOIN gk USING (doc_id)
      |  LEFT JOIN rtop r USING (doc_id)
      |  WHERE d.lang = 'en' AND gk.gopher = 1
      |    AND COALESCE(r.repetitive, 0) = 0),
      |sc AS (SELECT doc_id, n_tokens,
      |    hits * 1000000 // n_tokens AS score FROM el),
      |b AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget FROM sc),
      |r AS (SELECT doc_id, n_tokens,
      |    COALESCE(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_excl
      |  FROM sc),
      |sel AS (SELECT doc_id, n_tokens AS toks FROM r CROSS JOIN b
      |  WHERE cum_excl < b.budget),
      |${CurationQueries.packLayoutCtes("sel")}
      |${CurationQueries.packManifestSql}""".stripMargin
  }

  /** Release-to-release corpus diff ([[CorpusDiff.report]]) between
    * two synthetic snapshots of the documents table: the previous
    * release lacks every 13th doc (those are "added" now), the
    * current release drops every 19th ("removed") and rewrites every
    * 17th ("changed" — one appended token, so the token delta is
    * visible per source). */
  def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val prev = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
    val cur = docs.filter(pmod(col("doc_id"), lit(19)) =!= 0)
      .withColumn("text", when(pmod(col("doc_id"), lit(17)) === 0,
        concat(col("text"), lit(" revised"))).otherwise(col("text")))
    graft.ops.CorpusDiff.report(prev, cur, "text", "doc_id", "source")
  }

  val qCorpusDiffSql: String =
    """WITH p AS (SELECT doc_id, source, md5(text) AS fp,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents WHERE doc_id % 13 <> 0),
      |c0 AS (SELECT doc_id, source,
      |    CASE WHEN doc_id % 17 = 0 THEN text || ' revised' ELSE text END
      |      AS text
      |  FROM documents WHERE doc_id % 19 <> 0),
      |c AS (SELECT doc_id, source, md5(text) AS fp,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS toks FROM c0),
      |j AS (SELECT COALESCE(c.source, p.source) AS source,
      |    COALESCE(p.toks, 0) AS tp, COALESCE(c.toks, 0) AS tc,
      |    CASE WHEN p.fp IS NULL THEN 'added'
      |         WHEN c.fp IS NULL THEN 'removed'
      |         WHEN p.fp = c.fp THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id)
      |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(tp) AS BIGINT) AS tokens_prev,
      |  CAST(sum(tc) AS BIGINT) AS tokens_cur,
      |  CAST(sum(tc) - sum(tp) AS BIGINT) AS token_delta
      |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin

  def entries: Map[String, (Run, String)] = Map(
    "q_gopher_quality" -> (qGopherQuality _, qGopherQualitySql),
    "q_filter_funnel" -> (qFilterFunnel _, qFilterFunnelSql),
    "q_budget_select" -> (qBudgetSelect _, qBudgetSelectSql),
    "q_c4_filter" -> (qC4Filter _, qC4FilterSql),
    "q_selection_e2e" -> (qSelectionE2e _, qSelectionE2eSql),
    "q_corpus_diff" -> (qCorpusDiff _, qCorpusDiffSql))
}
