package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CacheScope.Scoped
import graft.core.Tables
import graft.ops.{Bpe, Chunk, Curriculum, Decontaminate, Drift, Importance, LangModel, Mix, Pack, Scrub, TextAnalysis}

/** Corpus-curation queries over the `documents` table: eval-set
  * decontamination and context packing — the two layout steps between
  * "deduped corpus" and "training batches".
  */
object CurationQueries extends graft.QueryModule {

  /** Decontamination against a synthetic "benchmark" slice: every
    * 53rd document plays the eval set (a real pipeline passes a
    * separate suite table; the operator takes two arbitrary frames).
    * Eval members are excluded from the corpus side so self-overlap
    * doesn't flag everything. */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(53)) =!= 0)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(53)) === 0)
    Decontaminate.overlapReport(corpus, evalSet,
        textCol = "text", idCol = "doc_id", evalIdCol = "doc_id",
        n = 3, flagAt = 0.2)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Best-eval-overlap CTE chain, shared by [[qDecontaminateSql]] and
    * [[qCurationFullSql]] (cross-engine twin of
    * [[Decontaminate.bestOverlap]]): from a corpus-shingle CTE `cs`
    * (id, g) and an eval-shingle CTE `es` (eval_id, g) to
    * `${p}best` — one row per overlapping corpus doc with its best
    * eval doc (ratio DESC, ties to lowest eval_id). The ratio formula
    * and tie-break live HERE, once. */
  private[queries] def overlapCtes(cs: String, es: String, p: String): String =
    s"""${p}esz AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS eval_ng
       |        FROM $es GROUP BY eval_id),
       |${p}shared AS (SELECT c.id, e.eval_id, CAST(count(*) AS BIGINT) AS shared
       |           FROM $cs c JOIN $es e USING (g) GROUP BY c.id, e.eval_id),
       |${p}best AS (SELECT * FROM (
       |    SELECT s.id, s.eval_id, s.shared, z.eval_ng,
       |      s.shared / z.eval_ng AS ratio,
       |      row_number() OVER (PARTITION BY s.id
       |        ORDER BY s.shared / z.eval_ng DESC, s.eval_id) AS rn
       |    FROM ${p}shared s JOIN ${p}esz z USING (eval_id))
       |  WHERE rn = 1)""".stripMargin

  val qDecontaminateSql: String =
    s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |       FROM t, UNNEST(generate_series(1, len(w)-2)) AS u(i)
      |       WHERE len(w) >= 3),
      |shc AS (SELECT * FROM sh WHERE id % 53 <> 0),
      |she AS (SELECT id AS eval_id, g FROM sh WHERE id % 53 = 0),
      |${overlapCtes("shc", "she", "")}
      |SELECT d.id AS doc_id, b.eval_id,
      |  COALESCE(b.shared, 0) AS shared, b.eval_ng,
      |  COALESCE(b.ratio, 0.0) AS ratio,
      |  CAST(COALESCE(b.ratio, 0.0) >= 0.2 AS BIGINT) AS contaminated
      |FROM (SELECT DISTINCT id FROM shc) d
      |LEFT JOIN best b USING (id)
      |ORDER BY doc_id""".stripMargin

  /** Multi-suite decontamination ([[Decontaminate.suiteOverlap]]):
    * the eval slice split into three synthetic benchmark suites
    * (`s0`/`s1`/`s2` by doc_id % 3), one best-overlap row per
    * flagged (doc, suite) — per-benchmark attribution, the release
    * note's "n docs dropped for suite X" read. Screened at a
    * STRICTER 0.05 than the drop entries' 0.2: attribution is a
    * review surface, so weak collisions should surface here before
    * they ever reach dropping strength. */
  def qDeconSuites(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(53)) =!= 0)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(53)) === 0)
      .withColumn("suite", concat(lit("s"), pmod(col("doc_id"), lit(3))))
    Decontaminate.suiteOverlap(corpus, evalSet,
        textCol = "text", idCol = "doc_id", evalIdCol = "doc_id",
        suiteCol = "suite", n = 3, flagAt = 0.05)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("suite"))
  }

  val qDeconSuitesSql: String =
    s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id AS id,
       |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       |       FROM t, UNNEST(generate_series(1, len(w)-2)) AS u(i)
       |       WHERE len(w) >= 3),
       |shc AS (SELECT * FROM sh WHERE id % 53 <> 0),
       |she AS (SELECT id AS eval_id, g FROM sh WHERE id % 53 = 0),
       |sz AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS eval_ng
       |       FROM she GROUP BY eval_id),
       |sm AS (SELECT DISTINCT doc_id AS eval_id,
       |         's' || (doc_id % 3) AS suite
       |       FROM documents WHERE doc_id % 53 = 0),
       |sh2 AS (SELECT c.id, e.eval_id, CAST(count(*) AS BIGINT) AS shared
       |        FROM shc c JOIN she e USING (g) GROUP BY c.id, e.eval_id),
       |r AS (SELECT s2.id, sm.suite, s2.eval_id, s2.shared, sz.eval_ng,
       |        s2.shared / sz.eval_ng AS ratio,
       |        row_number() OVER (PARTITION BY s2.id, sm.suite
       |          ORDER BY s2.shared / sz.eval_ng DESC, s2.eval_id) AS rn
       |      FROM sh2 s2 JOIN sz USING (eval_id) JOIN sm USING (eval_id))
       |SELECT id AS doc_id, suite, eval_id, shared, eval_ng, ratio
       |FROM r WHERE rn = 1 AND ratio >= 0.05
       |ORDER BY doc_id, suite""".stripMargin

  /** The same decontamination computed the 100 TB way
    * ([[Decontaminate.flaggedReportBloom]]): the eval suite's shingles
    * fold into a bloom filter probed INSIDE the corpus scan (codegen'd
    * [[graft.functions.BloomExprs]]), so the shingle explode + eval
    * equi-join run only over probe survivors; exact verification then
    * discards bloom false positives, making the flagged set
    * bit-identical to [[qDecontaminate]]'s contaminated rows. The
    * oracle is the EXACT overlap computation — it never sees the bloom,
    * so a probe false negative (impossible by construction) or an
    * unverified false positive would hash-mismatch. */
  def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(53)) =!= 0)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(53)) === 0)
    // flagAt is lower than qDecontaminate's 0.2: the synthetic corpus
    // has no planted eval copies, so 0.2 flags nothing at sf>=0.01 and
    // the entry would gate vacuously on an empty frame
    Decontaminate.flaggedReportBloom(corpus, evalSet,
        textCol = "text", idCol = "doc_id", evalIdCol = "doc_id",
        n = 3, flagAt = 0.04)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  val qDecontaminateBloomSql: String =
    s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |       FROM t, UNNEST(generate_series(1, len(w)-2)) AS u(i)
      |       WHERE len(w) >= 3),
      |shc AS (SELECT * FROM sh WHERE id % 53 <> 0),
      |she AS (SELECT id AS eval_id, g FROM sh WHERE id % 53 = 0),
      |${overlapCtes("shc", "she", "")}
      |SELECT id AS doc_id, eval_id, shared, eval_ng, ratio
      |FROM best WHERE ratio >= 0.04
      |ORDER BY doc_id""".stripMargin

  /** DSIR-style importance scoring against the same synthetic
    * "benchmark" slice decontamination uses as its eval set (every
    * 53rd doc plays the target distribution, the rest the raw
    * corpus): hashed-unigram ppm-difference weights, per-doc scores,
    * keep = non-negative mean per-token weight
    * ([[Importance.importanceReport]]). */
  def qImportance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(53)) =!= 0)
    val target = docs.filter(pmod(col("doc_id"), lit(53)) === 0)
    Importance.importanceReport(corpus, target,
        textCol = "text", idCol = "doc_id", nBuckets = 4096, keepAtPml = 0L)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  val qImportanceSql: String =
    """WITH tk AS (SELECT doc_id AS id,
      |        CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % 4096 AS b
      |      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
      |            FROM documents WHERE doc_id % 53 <> 0)),
      |tt AS (SELECT doc_id AS id,
      |        CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % 4096 AS b
      |      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
      |            FROM documents WHERE doc_id % 53 = 0)),
      |rp AS (SELECT b, count(*) * 1000000 // (SELECT count(*) FROM tk) AS ppm
      |       FROM tk GROUP BY b),
      |tp AS (SELECT b, count(*) * 1000000 // (SELECT count(*) FROM tt) AS ppm
      |       FROM tt GROUP BY b),
      |wt AS (SELECT b, COALESCE(tp.ppm, 0) - COALESCE(rp.ppm, 0) AS wt
      |       FROM rp FULL JOIN tp USING (b)),
      |sc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_toks,
      |        CAST(sum(wt) AS BIGINT) AS score
      |      FROM tk JOIN wt USING (b) GROUP BY id)
      |SELECT d.doc_id, COALESCE(sc.n_toks, 0) AS n_toks,
      |  COALESCE(sc.score, 0) AS score,
      |  CAST(COALESCE(sc.score, 0) * 1000 >= 0 * COALESCE(sc.n_toks, 0)
      |    AS BIGINT) AS keep
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 53 <> 0) d
      |LEFT JOIN sc ON sc.id = d.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Keep threshold for [[qPerplexity]]'s mean inverse-probability
    * cost (ppm): interpolated into BOTH the Spark entry and the
    * DuckDB oracle so the two can't drift. */
  private val PerplexityKeepAt = 38000000L

  /** CCNet-style LM perplexity gate: every 41st doc plays the
    * trusted reference slice the bigram model trains on; the rest of
    * the corpus is scored by mean add-one inverse-probability cost
    * and kept below [[PerplexityKeepAt]] ppm
    * ([[LangModel.perplexityReport]]). */
  def qPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(41)) =!= 0)
    val ref = docs.filter(pmod(col("doc_id"), lit(41)) === 0)
    LangModel.perplexityReport(corpus, ref,
        textCol = "text", idCol = "doc_id", keepAtMeanCost = PerplexityKeepAt)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Shared bigram-LM CTE chain (cross-engine twin of
    * [[LangModel.perplexityReport]] over the mod-41 split), ending in
    * `mc(doc_id, n_bigrams, total_cost, mean_cost)` — one row per
    * corpus doc. Used by [[qPerplexitySql]] and [[qCurriculumSql]];
    * the cost formula lives HERE, once. */
  private val perplexityCtes: String =
    """t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT doc_id AS id, w[i] AS prev, w[i+1] AS cur
      |       FROM t, UNNEST(generate_series(1, len(w)-1)) AS u(i)
      |       WHERE len(w) >= 2),
      |rb AS (SELECT * FROM bg WHERE id % 41 = 0),
      |cb AS (SELECT * FROM bg WHERE id % 41 <> 0),
      |v AS (SELECT count(DISTINCT tk) AS vsz FROM
      |        (SELECT unnest(str_split(text, ' ')) AS tk
      |         FROM documents WHERE doc_id % 41 = 0)),
      |ctx AS (SELECT prev, CAST(count(*) AS BIGINT) AS c_ctx
      |        FROM rb GROUP BY prev),
      |big AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c_big
      |        FROM rb GROUP BY prev, cur),
      |sc AS (SELECT cb.id, least(
      |         1000000 * (COALESCE(ctx.c_ctx, 0) + (SELECT vsz FROM v))
      |           // (COALESCE(big.c_big, 0) + 1),
      |         1000000000) AS cost
      |       FROM cb
      |       LEFT JOIN big USING (prev, cur)
      |       LEFT JOIN ctx USING (prev)),
      |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |          CAST(sum(cost) AS BIGINT) AS total_cost
      |        FROM sc GROUP BY id),
      |mc AS (SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
      |         COALESCE(total_cost, 0) AS total_cost,
      |         CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0
      |           ELSE total_cost // n_bigrams END AS mean_cost
      |       FROM (SELECT doc_id FROM documents WHERE doc_id % 41 <> 0) d
      |       LEFT JOIN agg ON agg.id = d.doc_id)""".stripMargin

  val qPerplexitySql: String =
    s"""WITH $perplexityCtes
      |SELECT doc_id, n_bigrams, total_cost, mean_cost,
      |  CAST(total_cost <= $PerplexityKeepAt * n_bigrams AS BIGINT) AS keep
      |FROM mc
      |ORDER BY doc_id""".stripMargin

  /** Curriculum binning over the LM scores: the mod-41 corpus cut
    * into 4 ~equal-frequency difficulty tiers by mean bigram cost
    * ([[Curriculum.equalFreqBins]] at 100k-ppm histogram
    * granularity) — the "easy first" schedule, or quality tiers for
    * mixture weighting. */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(41)) =!= 0)
    val ref = docs.filter(pmod(col("doc_id"), lit(41)) === 0)
    val rep = LangModel.perplexityReport(corpus, ref,
      textCol = "text", idCol = "doc_id", keepAtMeanCost = PerplexityKeepAt)
    Curriculum.equalFreqBins(rep.select(col("id"), col("mean_cost")),
        "mean_cost", nBins = 4, bucketWidth = 100000L)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  val qCurriculumSql: String =
    s"""WITH $perplexityCtes,
      |hist AS (SELECT mean_cost // 100000 AS hb,
      |           CAST(count(*) AS BIGINT) AS hn
      |         FROM mc GROUP BY hb),
      |cum AS (SELECT hb, COALESCE(CAST(sum(hn) OVER (ORDER BY hb
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS BIGINT), 0) AS cum_excl
      |        FROM hist),
      |tot AS (SELECT CAST(sum(hn) AS BIGINT) AS t FROM hist),
      |bins AS (SELECT hb, least(4 * cum_excl // t + 1, 4) AS bin
      |         FROM cum, tot)
      |SELECT mc.doc_id, mc.mean_cost, CAST(b.bin AS BIGINT) AS bin
      |FROM mc JOIN bins b ON mc.mean_cost // 100000 = b.hb
      |ORDER BY doc_id""".stripMargin

  /** Mixture-drift audit: every source's hashed-unigram L1 ppm
    * distance from the corpus-wide mixture ([[Drift.sourceDrift]]) —
    * the data-card read before weighting sources. */
  def qSourceDrift(s: SparkSession, dir: String): DataFrame =
    Drift.sourceDrift(Tables.documents(s, dir),
        textCol = "text", srcCol = "source", nBuckets = 4096)
      .orderBy(col("src"))

  val qSourceDriftSql: String =
    """WITH tk AS (SELECT source AS src,
      |        CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % 4096 AS b
      |      FROM (SELECT source, unnest(str_split(text, ' ')) AS t
      |            FROM documents)),
      |ap AS (SELECT b, count(*) * 1000000
      |         // (SELECT count(*) FROM tk) AS appm
      |       FROM tk GROUP BY b),
      |st AS (SELECT src, CAST(count(*) AS BIGINT) AS stot
      |       FROM tk GROUP BY src),
      |sc AS (SELECT src, b, CAST(count(*) AS BIGINT) AS n
      |       FROM tk GROUP BY src, b),
      |sp AS (SELECT sc.src, sc.b, sc.n * 1000000 // st.stot AS sppm
      |       FROM sc JOIN st USING (src)),
      |grid AS (SELECT s.src, a.b, a.appm, COALESCE(sp.sppm, 0) AS sppm
      |         FROM (SELECT src FROM st) s CROSS JOIN ap a
      |         LEFT JOIN sp ON sp.src = s.src AND sp.b = a.b),
      |l1 AS (SELECT src, CAST(sum(abs(sppm - appm)) AS BIGINT) AS l1_ppm
      |       FROM grid GROUP BY src),
      |nd AS (SELECT source AS src, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM documents GROUP BY source)
      |SELECT nd.src, nd.n_docs, st.stot AS n_toks, l1.l1_ppm
      |FROM nd JOIN st USING (src) JOIN l1 USING (src)
      |ORDER BY src""".stripMargin

  /** DATA CARD: the per-source manifest a dataset release publishes —
    * doc/char/token counts (whitespace AND the 50k-trie production
    * currency), language spread, and exact-duplicate mass — in ONE
    * map-side-combined aggregate pass over the corpus (the distinct
    * counts expand inside the same aggregate; no second scan, no
    * join). The drift entry ([[qSourceDrift]]) is this card's
    * distributional column. */
  def qDatacard(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source").as("src"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens_ws"),
        sum(Bpe.prodTokenCount(col("text"))).as("n_tokens_bpe50k"),
        count_distinct(col("lang")).as("n_langs"),
        (count(lit(1)) - count_distinct(md5(col("text")))).as("n_dup_docs"))
      .orderBy(col("src"))

  val qDatacardSql: String =
    s"""SELECT source AS src, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens_ws,
      |  CAST(sum(${Bpe.prodTokensSqlExpr("text")}) AS BIGINT)
      |    AS n_tokens_bpe50k,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs
      |FROM documents GROUP BY source
      |ORDER BY src""".stripMargin

  /** RAG-INDEX PIPELINE — the retrieval-side composed chain next to
    * the training-side [[qCurationFull]]: exact dedup (first-wins on
    * content hash) → LM perplexity gate ([[LangModel]], the mod-41
    * model) → token-window chunking ([[Chunk]], 32/24 byte-level
    * windows) → per-chunk manifest (doc, chunk, n_ids, positional
    * checksum). The checksum `sum(token_id * (cpos + 1))` gates
    * chunk CONTENT and ORDER, not just counts; the oracle replays
    * all three stages plus the id recursion in one statement, so
    * drift in any stage moves some chunk's checksum.
    *
    * Scan shape (restructured r12 — was 6 distinct documents scans):
    * ONE base pass computes the dedup rank and the ref/corpus role,
    * so the md5 window's exchange is the branch point every consumer
    * re-reads (one parquet scan + one shuffle at runtime; the
    * remaining static scan nodes share that exchange). The
    * perplexity gate filters the corpus IN PLACE
    * ([[LangModel.keepByPerplexity]]) instead of producing an id
    * list that is joined back — the join-back re-derived the whole
    * corpus lineage, which was the second extra scan. Scoring
    * dedup-survivors only (vs. scoring everything and intersecting)
    * is equivalent — the verdict is per-doc — and does strictly less
    * bigram work. */
  def qRagIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        (pmod(col("doc_id"), lit(41)) === 0).as("is_ref"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
    val ref = base.filter(col("is_ref"))
    val candidates = base.filter(!col("is_ref") && col("rn") === 1)
      .select(col("doc_id"), col("text"))
    val kept = LangModel.keepByPerplexity(candidates, ref,
      textCol = "text", idCol = "doc_id", keepAtMeanCost = PerplexityKeepAt)
    Chunk.tokenIdChunks(kept,
        textCol = "text", idCol = "doc_id",
        chunkSize = 32, stride = 24, merges = Bpe.fixtureMergesByteLevel)
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_ids"),
        sum(col("token_id") * (col("cpos") + 1L)).as("checksum"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val qRagIndexSql: String =
    s"""WITH RECURSIVE
      |$byteIdCtes,
      |$perplexityCtes,
      |keepx AS (SELECT doc_id FROM (
      |            SELECT doc_id, row_number() OVER (
      |              PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |            FROM documents)
      |          WHERE rn = 1),
      |kept AS (SELECT mc.doc_id FROM mc JOIN keepx USING (doc_id)
      |         WHERE mc.total_cost <= $PerplexityKeepAt * mc.n_bigrams),
      |g AS (SELECT d.doc_id,
      |        CAST(row_number() OVER (PARTITION BY d.doc_id
      |          ORDER BY wpos, j) - 1 AS BIGINT) AS pos, token_id
      |      FROM dtok d JOIN kept USING (doc_id)),
      |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
      |      FROM g GROUP BY doc_id),
      |st AS (SELECT doc_id, u.s AS start
      |       FROM n, UNNEST(generate_series(0, nt - 1, 24)) AS u(s))
      |SELECT g.doc_id, CAST(st.start // 24 AS BIGINT) AS chunk_id,
      |  CAST(count(*) AS BIGINT) AS n_ids,
      |  CAST(sum(g.token_id * (g.pos - st.start + 1)) AS BIGINT) AS checksum
      |FROM g JOIN st ON g.doc_id = st.doc_id
      |  AND g.pos >= st.start AND g.pos < st.start + 32
      |GROUP BY g.doc_id, st.start
      |ORDER BY g.doc_id, chunk_id""".stripMargin

  /** Context packing at a 512-token budget over 8 hash shards. */
  def qPack(s: SparkSession, dir: String): DataFrame =
    Pack.packSummary(Tables.documents(s, dir),
      textCol = "text", idCol = "doc_id", budget = 512L, nShards = 8)

  /** DOCUMENT-INTEGRITY (no-span) packing
    * ([[Pack.packSummaryNoSpan]]): greedy first-fit in the md5
    * layout order where a doc that would cross the budget boundary
    * starts a new pack — every multi-doc pack holds <= budget tokens,
    * no document ever fragments (the instruction-tuning /
    * long-context loader mode; span-packing `q_pack` is the
    * pretraining mode). The oracle replays the sequential walk as a
    * RECURSIVE CTE stepping one doc per shard per iteration. */
  def qPackNospan(s: SparkSession, dir: String): DataFrame =
    Pack.packSummaryNoSpan(Tables.documents(s, dir),
      textCol = "text", idCol = "doc_id", budget = 512L, nShards = 8)

  val qPackNospanSql: String =
    """WITH RECURSIVE
      |d AS (SELECT doc_id,
      |        CAST(len(str_split(text, ' ')) AS BIGINT) AS toks
      |      FROM documents),
      |pk AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k, toks FROM d),
      |o AS (SELECT *,
      |        CAST('0x' || substr(k, 1, 7) AS BIGINT) % 8 AS shard,
      |        row_number() OVER (
      |          PARTITION BY CAST('0x' || substr(k, 1, 7) AS BIGINT) % 8
      |          ORDER BY k, doc_id) AS rn
      |      FROM pk),
      |walk(shard, rn, doc_id, toks, pack_id, filled) AS (
      |  SELECT shard, rn, doc_id, toks, CAST(0 AS BIGINT), toks
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.shard, o.rn, o.doc_id, o.toks,
      |    CASE WHEN w.filled + o.toks <= 512 THEN w.pack_id
      |      ELSE w.pack_id + 1 END,
      |    CASE WHEN w.filled + o.toks <= 512 THEN w.filled + o.toks
      |      ELSE o.toks END
      |  FROM walk w JOIN o ON o.shard = w.shard AND o.rn = w.rn + 1)
      |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS pack_tokens,
      |  min(doc_id) AS first_doc
      |FROM walk GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin

  /** Deterministic PER-EPOCH training data order — the final loader
    * artifact after packing: each epoch shuffles the pack manifest by
    * a salted-md5 order key, ranked WITHIN its shard (the loader
    * reads shards in parallel; a global rank would be a global sort).
    * Reproducibility is the point: any worker, resuming at any time,
    * derives the same (epoch, shard) read order from the ids alone.
    *
    * Scale shape: operates on the pack MANIFEST (corpus_tokens /
    * budget rows, not docs); the rank window is partitioned per
    * (epoch, shard) — partition-local, no global sort. */
  def qEpochOrder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.HashParity
    val packs = Pack.packSummary(Tables.documents(s, dir),
        textCol = "text", idCol = "doc_id", budget = 512L, nShards = 8)
      .select(col("shard"), col("pack_id"))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("ok"), col("pack_id"))
    packs
      .withColumn("epoch", explode(sequence(lit(0L), lit(2L))))
      .withColumn("ok", HashParity.h28(concat(
        lit("ep:"), col("epoch").cast("string"), lit("#"),
        col("shard").cast("string"), lit(":"),
        col("pack_id").cast("string"))))
      .withColumn("seq", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("pack_id"), col("seq"))
      .orderBy(col("epoch"), col("shard"), col("seq"))
  }

  /** DuckDB replay of [[qEpochOrder]]: the shared pack layout, the
    * same salted md5 order keys, the same shard-local rank. */
  val qEpochOrderSql: String =
    s"""WITH d AS (SELECT doc_id,
       |        CAST(len(str_split(text, ' ')) AS BIGINT) AS toks
       |      FROM documents),
       |${packLayoutCtes("d")},
       |pp AS (SELECT DISTINCT shard, pack_id FROM pkp),
       |ep AS (SELECT e.epoch, pp.shard, pp.pack_id,
       |         CAST('0x' || substr(md5('ep:' || e.epoch || '#' ||
       |           pp.shard || ':' || pp.pack_id), 1, 7) AS BIGINT) AS ok
       |       FROM pp, UNNEST([0, 1, 2]) AS e(epoch))
       |SELECT CAST(epoch AS BIGINT) AS epoch, shard, pack_id,
       |  CAST(row_number() OVER (PARTITION BY epoch, shard
       |    ORDER BY ok, pack_id) AS BIGINT) AS seq
       |FROM ep ORDER BY epoch, shard, seq""".stripMargin

  /** Pack-layout CTE chain (cross-engine twin of
    * [[Pack.assignPacksOn]]): from a CTE `src` with (doc_id, toks) to
    * `pkp` — per doc its md5 layout key, shard, exclusive prefix sum,
    * and pack_id. The sharding/ordering/binning arithmetic lives
    * HERE, once (also replayed by
    * [[SelectionQueries.qSelectionE2eSql]]). */
  private[queries] def packLayoutCtes(
      src: String, budget: Long = 512L): String =
    s"""pk AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k, toks
       |    FROM $src),
       |pks AS (SELECT *,
       |    CAST('0x' || substr(k, 1, 7) AS BIGINT) % 8 AS shard FROM pk),
       |pke AS (SELECT *, COALESCE(CAST(sum(toks) OVER (
       |    PARTITION BY shard ORDER BY k, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    0) AS excl FROM pks),
       |pkp AS (SELECT *,
       |    CAST(floor(excl / $budget) AS BIGINT) AS pack_id FROM pke)"""
      .stripMargin

  /** The pack-manifest SELECT over [[packLayoutCtes]]'s `pkp` (the
    * [[Pack.packSummary]] output shape). */
  private[queries] val packManifestSql: String =
    """SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS pack_tokens, min(doc_id) AS first_doc
      |FROM pkp GROUP BY shard, pack_id
      |ORDER BY shard, pack_id""".stripMargin

  private def packSql(toksExpr: String, budget: Long = 512L): String =
    s"""WITH d AS (SELECT doc_id, $toksExpr AS toks FROM documents),
       |${packLayoutCtes("d", budget)}
       |$packManifestSql""".stripMargin

  val qPackSql: String =
    packSql("CAST(len(str_split(text, ' ')) AS BIGINT)")

  /** Context packing budgeted by vocab-faithful BPE tokens (greedy
    * longest-match against the checked-in vocab fixture) instead of
    * whitespace words — the budget currency an actual training loader
    * uses. Same layout machinery as [[qPack]]; only the token counter
    * changes, and the oracle replays the identical compiled pattern. */
  def qPackBpe(s: SparkSession, dir: String): DataFrame =
    Pack.packSummary(Tables.documents(s, dir),
      textCol = "text", idCol = "doc_id", budget = 512L, nShards = 8,
      // the trie-walking native expression; the oracle replays the
      // compiled-alternation regex, which BpeSpec pins result-equal,
      // so the entry gates both token-count paths
      tokensOf = c => Bpe.tokenCountFast(c, Bpe.fixtureVocab))

  val qPackBpeSql: String =
    packSql(s"CAST(len(regexp_extract_all(text, '${Bpe.fixturePattern}')) AS BIGINT)")

  /** Context packing budgeted by the PRODUCTION-SCALE tokenizer: the
    * byte-trie expression over the 50,000-piece [[Bpe.prodVocab]] —
    * the vocabulary size at which the compiled-alternation regex is
    * no longer viable (PLANS.md benches the crossover) and the trie
    * is the only sane matcher. Same sharded prefix-sum layout as
    * [[qPack]]; the oracle replays greedy longest-match through the
    * vocab's closed form ([[Bpe.prodTokensSqlExpr]]) — an independent
    * derivation, not a re-run of the matcher. */
  def qPackBpe50k(s: SparkSession, dir: String): DataFrame =
    Pack.packSummary(Tables.documents(s, dir),
      textCol = "text", idCol = "doc_id", budget = 2048L, nShards = 8,
      tokensOf = Bpe.prodTokenCount)

  val qPackBpe50kSql: String =
    packSql(Bpe.prodTokensSqlExpr("text"), budget = 2048L)

  /** Merge-ranked (true) BPE token counts under the checked-in
    * 127-rule merge fixture ([[Bpe.fixtureMerges]], learned by
    * [[Bpe.learnMerges]] over this corpus and pinned by BpeSpec) —
    * the inference scheme that reproduces a published tokenizer's
    * segmentation from its merges file verbatim, vs. the greedy
    * longest-match of [[qPackBpe]]. The oracle replays the ordered
    * merge loop as a recursive CTE over DISTINCT pre-tokens (merge
    * one leftmost min-rank pair per recursion step — equivalent to
    * the all-occurrences pass, see
    * [[graft.functions.MergeRanker]]), then joins counts back per
    * document; the Spark side is one codegen'd expression whose
    * per-word work is memoized per executor. */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Bpe.mergeTokenCount(col("text"), Bpe.fixtureMerges).as("n_tokens_merge"))
      .orderBy(col("doc_id"))

  val qBpeMergesSql: String = {
    // rank list literal: 1-based list_position IS the merge rank;
    // '|' is safe (symbols are space+letters only)
    val lst = Bpe.fixtureMerges.map { case (a, b) => s"'$a|$b'" }
      .mkString("[", ",", "]")
    s"""WITH RECURSIVE
       |mg AS (SELECT $lst AS l),
       |pt AS (SELECT doc_id, unnest(regexp_extract_all(text, ' ?[A-Za-z]+')) AS w
       |       FROM documents),
       |wcnt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n
       |         FROM pt GROUP BY doc_id, w),
       |words AS (SELECT DISTINCT w FROM pt),
       |step(w, toks, it) AS (
       |  SELECT w, regexp_extract_all(w, '[\\s\\S]'), 0 FROM words
       |  UNION ALL
       |  SELECT w,
       |    list_concat(list_concat(toks[1:bp-1], [toks[bp] || toks[bp+1]]),
       |      toks[bp+2:len(toks)]),
       |    it + 1
       |  FROM (SELECT w, toks, it,
       |          list_position(pr, list_min(list_filter(pr, x -> x > 0))) AS bp
       |        FROM (SELECT s.w, s.toks, s.it,
       |                list_transform(generate_series(1, len(s.toks)-1),
       |                  i -> list_position(mg.l, s.toks[i] || '|' || s.toks[i+1]))
       |                  AS pr
       |              FROM step s CROSS JOIN mg))
       |  WHERE bp IS NOT NULL),
       |final AS (SELECT w, toks FROM (
       |    SELECT w, toks, row_number() OVER (PARTITION BY w ORDER BY it DESC)
       |      AS rn FROM step) WHERE rn = 1),
       |wtok AS (SELECT w, CAST(len(toks) AS BIGINT) AS nt FROM final),
       |docw AS (SELECT doc_id, CAST(sum(n * nt) AS BIGINT) AS n_word_toks
       |         FROM wcnt JOIN wtok USING (w) GROUP BY doc_id),
       |fb AS (SELECT doc_id,
       |         CAST(length(regexp_replace(text, ' ?[A-Za-z]+', '', 'g'))
       |           AS BIGINT) AS n_fb FROM documents)
       |SELECT d.doc_id, COALESCE(dw.n_word_toks, 0) + fb.n_fb AS n_tokens_merge
       |FROM documents d LEFT JOIN docw dw USING (doc_id) JOIN fb USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Context packing budgeted by MERGE-RANKED BPE tokens — the
    * currency of a pipeline that loaded a published tokenizer's
    * merges file. Same sharded prefix-sum layout; the oracle composes
    * the recursive merge replay (per-distinct-word fixpoint, joined
    * back per doc) with the pack layout SQL. */
  def qPackMerges(s: SparkSession, dir: String): DataFrame =
    Pack.packSummary(Tables.documents(s, dir),
      textCol = "text", idCol = "doc_id", budget = 1024L, nShards = 8,
      tokensOf = c => Bpe.mergeTokenCount(c, Bpe.fixtureMerges))

  val qPackMergesSql: String = {
    val lst = Bpe.fixtureMerges.map { case (a, b) => s"'$a|$b'" }
      .mkString("[", ",", "]")
    s"""WITH RECURSIVE
       |mg AS (SELECT $lst AS l),
       |pt AS (SELECT doc_id, unnest(regexp_extract_all(text, ' ?[A-Za-z]+')) AS w
       |       FROM documents),
       |wcnt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n
       |         FROM pt GROUP BY doc_id, w),
       |words AS (SELECT DISTINCT w FROM pt),
       |step(w, toks, it) AS (
       |  SELECT w, regexp_extract_all(w, '[\\s\\S]'), 0 FROM words
       |  UNION ALL
       |  SELECT w,
       |    list_concat(list_concat(toks[1:bp-1], [toks[bp] || toks[bp+1]]),
       |      toks[bp+2:len(toks)]),
       |    it + 1
       |  FROM (SELECT w, toks, it,
       |          list_position(pr, list_min(list_filter(pr, x -> x > 0))) AS bp
       |        FROM (SELECT s.w, s.toks, s.it,
       |                list_transform(generate_series(1, len(s.toks)-1),
       |                  i -> list_position(mg.l, s.toks[i] || '|' || s.toks[i+1]))
       |                  AS pr
       |              FROM step s CROSS JOIN mg))
       |  WHERE bp IS NOT NULL),
       |final AS (SELECT w, toks FROM (
       |    SELECT w, toks, row_number() OVER (PARTITION BY w ORDER BY it DESC)
       |      AS rn FROM step) WHERE rn = 1),
       |wtok AS (SELECT w, CAST(len(toks) AS BIGINT) AS nt FROM final),
       |docw AS (SELECT doc_id, CAST(sum(n * nt) AS BIGINT) AS n_word_toks
       |         FROM wcnt JOIN wtok USING (w) GROUP BY doc_id),
       |fb AS (SELECT doc_id,
       |         CAST(length(regexp_replace(text, ' ?[A-Za-z]+', '', 'g'))
       |           AS BIGINT) AS n_fb FROM documents),
       |d AS (SELECT dd.doc_id, md5(CAST(dd.doc_id AS VARCHAR)) AS k,
       |    COALESCE(dw.n_word_toks, 0) + fb.n_fb AS toks
       |  FROM documents dd
       |  LEFT JOIN docw dw USING (doc_id) JOIN fb USING (doc_id)),
       |s AS (SELECT *,
       |    CAST('0x' || substr(k, 1, 7) AS BIGINT) % 8 AS shard FROM d),
       |e AS (SELECT *, COALESCE(CAST(sum(toks) OVER (
       |    PARTITION BY shard ORDER BY k, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    0) AS excl FROM s),
       |p AS (SELECT *, CAST(floor(excl / 1024) AS BIGINT) AS pack_id FROM e)
       |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS pack_tokens, min(doc_id) AS first_doc
       |FROM p GROUP BY shard, pack_id
       |ORDER BY shard, pack_id""".stripMargin
  }

  /** Subword-piece frequencies under the MERGE-RANKED tokenizer
    * (fixture rules): the merge segmentation array exploded and
    * counted, top 50 — the piece-usage profile under a loaded merges
    * file, twin of [[qSubwords]]'s greedy-vocab profile. The oracle
    * re-derives segmentations through the recursive merge replay
    * (per distinct word, weighted by per-doc multiplicity) plus
    * one piece per non-run code point. */
  def qSubwordsMerges(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Bpe.mergeTokens(col("text"), Bpe.fixtureMerges))
        .as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(50)

  val qSubwordsMergesSql: String = {
    val lst = Bpe.fixtureMerges.map { case (a, b) => s"'$a|$b'" }
      .mkString("[", ",", "]")
    s"""WITH RECURSIVE
       |mg AS (SELECT $lst AS l),
       |pt AS (SELECT doc_id, unnest(regexp_extract_all(text, ' ?[A-Za-z]+')) AS w
       |       FROM documents),
       |words AS (SELECT DISTINCT w FROM pt),
       |step(w, toks, it) AS (
       |  SELECT w, regexp_extract_all(w, '[\\s\\S]'), 0 FROM words
       |  UNION ALL
       |  SELECT w,
       |    list_concat(list_concat(toks[1:bp-1], [toks[bp] || toks[bp+1]]),
       |      toks[bp+2:len(toks)]),
       |    it + 1
       |  FROM (SELECT w, toks, it,
       |          list_position(pr, list_min(list_filter(pr, x -> x > 0))) AS bp
       |        FROM (SELECT s.w, s.toks, s.it,
       |                list_transform(generate_series(1, len(s.toks)-1),
       |                  i -> list_position(mg.l, s.toks[i] || '|' || s.toks[i+1]))
       |                  AS pr
       |              FROM step s CROSS JOIN mg))
       |  WHERE bp IS NOT NULL),
       |final AS (SELECT w, toks FROM (
       |    SELECT w, toks, row_number() OVER (PARTITION BY w ORDER BY it DESC)
       |      AS rn FROM step) WHERE rn = 1),
       |seg AS (SELECT doc_id,
       |    unnest(regexp_extract_all(text, ' ?[A-Za-z]+|[\\s\\S]')) AS m
       |  FROM documents),
       |pieces AS (
       |  SELECT seg.doc_id, unnest(f.toks) AS piece
       |  FROM seg JOIN final f ON f.w = seg.m
       |  UNION ALL
       |  SELECT doc_id, m AS piece FROM seg
       |  WHERE NOT regexp_matches(m, '^ ?[A-Za-z]+$$'))
       |SELECT piece, CAST(count(*) AS BIGINT) AS n
       |FROM pieces GROUP BY piece
       |ORDER BY n DESC, piece LIMIT 50""".stripMargin
  }

  // ---- byte-level (full GPT-2 construction) ------------------------------

  /** Shared oracle CTE chain for the BYTE-LEVEL merge path, ending in
    * `bdoc(doc_id, n_tokens)`: pre-tokens via the RE2-compatible GPT-2
    * split ([[graft.ops.ByteLevel.OraclePreTokenPattern]] — exact on
    * this single-spaced corpus; the lookahead case is pinned by
    * ByteLevelSpec), byte symbols derived INDEPENDENTLY from
    * `hex(encode(w))` pairs mapped through the published 256-entry
    * table, then the same one-leftmost-merge-per-step recursion as the
    * letter path. The rank-key separator is a raw space — unambiguous
    * because byte-level symbols never contain one (0x20 encodes to
    * 'Ġ'), exactly the property the GPT-2 merges-file format itself
    * relies on. No fallback term: the byte alphabet covers every
    * character, so a document's count is exactly the sum over its
    * pre-tokens. */
  private def byteMergeCtes: String = {
    val pre = graft.ops.ByteLevel.OraclePreTokenPattern.replace("'", "''")
    byteMergeCtesFrom(
      s"""pt AS (SELECT doc_id,
         |         unnest(regexp_extract_all(text, '$pre')) AS w
         |       FROM documents)""".stripMargin)
  }

  /** [[byteMergeCtes]] with the pre-token CTE supplied — the id
    * oracles extract pre-tokens ONCE (position-preserving `seg`) and
    * feed this chain from it instead of re-running the regex over
    * every document. */
  private def byteMergeCtesFrom(ptCte: String): String = {
    val lst = Bpe.fixtureMergesByteLevel
      .map { case (a, b) => "'" + (a + " " + b).replace("'", "''") + "'" }
      .mkString("[", ",", "]")
    s"""mg AS (SELECT $lst AS l),
       |btab AS (SELECT ${graft.ops.ByteLevel.byteTableSql} AS bt),
       |$ptCte,
       |wcnt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n
       |         FROM pt GROUP BY doc_id, w),
       |winit AS (SELECT w, hex(encode(w)) AS h
       |          FROM (SELECT DISTINCT w FROM pt)),
       |step(w, toks, it) AS (
       |  SELECT w, list_transform(generate_series(1, length(h) // 2),
       |           i -> bt[CAST('0x' || substr(h, 2*i-1, 2) AS INT) + 1]), 0
       |  FROM winit CROSS JOIN btab
       |  UNION ALL
       |  SELECT w,
       |    list_concat(list_concat(toks[1:bp-1], [toks[bp] || toks[bp+1]]),
       |      toks[bp+2:len(toks)]),
       |    it + 1
       |  FROM (SELECT w, toks, it,
       |          list_position(pr, list_min(list_filter(pr, x -> x > 0))) AS bp
       |        FROM (SELECT s.w, s.toks, s.it,
       |                list_transform(generate_series(1, len(s.toks)-1),
       |                  i -> list_position(mg.l, s.toks[i] || ' ' || s.toks[i+1]))
       |                  AS pr
       |              FROM step s CROSS JOIN mg))
       |  WHERE bp IS NOT NULL),
       |final AS (SELECT w, toks FROM (
       |    SELECT w, toks, row_number() OVER (PARTITION BY w ORDER BY it DESC)
       |      AS rn FROM step) WHERE rn = 1),
       |wtok AS (SELECT w, CAST(len(toks) AS BIGINT) AS nt FROM final),
       |bdoc AS (SELECT doc_id, CAST(sum(n * nt) AS BIGINT) AS n_tokens
       |         FROM wcnt JOIN wtok USING (w) GROUP BY doc_id)""".stripMargin
  }

  /** Per-document token counts under the FULL BYTE-LEVEL merge path
    * ([[Bpe.byteTokenCount]], fixture rules loaded from a GPT-2-format
    * merges file by the same verbatim parser a published merges.txt
    * would use): GPT-2 pre-tokenization, the published 256-symbol byte
    * alphabet, ordered merges. This is the token currency a real
    * pretraining pipeline runs on — digits, punctuation, and non-ASCII
    * bytes all participate in merges, unlike the letter-only
    * [[qBpeMerges]] path. */
  def qBpeBytelevel(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Bpe.byteTokenCount(col("text"), Bpe.fixtureMergesByteLevel)
          .as("n_tokens_bl"))
      .orderBy(col("doc_id"))

  val qBpeBytelevelSql: String =
    s"""WITH RECURSIVE
       |$byteMergeCtes
       |SELECT d.doc_id, COALESCE(b.n_tokens, 0) AS n_tokens_bl
       |FROM documents d LEFT JOIN bdoc b USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Context packing budgeted by BYTE-LEVEL BPE tokens — the packing
    * currency of a pipeline running a published tokenizer. Same
    * sharded prefix-sum layout as [[qPack]]; the oracle composes the
    * byte-level recursion with the pack layout SQL. */
  def qPackBytelevel(s: SparkSession, dir: String): DataFrame =
    Pack.packSummary(Tables.documents(s, dir),
      textCol = "text", idCol = "doc_id", budget = 1024L, nShards = 8,
      tokensOf = c => Bpe.byteTokenCount(c, Bpe.fixtureMergesByteLevel))

  val qPackBytelevelSql: String =
    s"""WITH RECURSIVE
       |$byteMergeCtes,
       |$bytePackCtes
       |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS pack_tokens, min(doc_id) AS first_doc
       |FROM p GROUP BY shard, pack_id
       |ORDER BY shard, pack_id""".stripMargin

  /** Subword-piece frequencies under the BYTE-LEVEL tokenizer: the
    * segmentation array itself exploded and counted, top 50 — pieces
    * spelled in byte-symbol space ("Ġthe"), exactly what a published
    * tokenizer's vocab inspection shows. Gates the SEGMENTATION
    * (piece boundaries and spellings), not just counts: the oracle
    * re-derives every distinct pre-token's piece list through the
    * byte-level recursion and re-spells the aggregate
    * independently. */
  def qSubwordsBytelevel(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Bpe.byteTokens(col("text"), Bpe.fixtureMergesByteLevel))
        .as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(50)

  val qSubwordsBytelevelSql: String =
    s"""WITH RECURSIVE
       |$byteMergeCtes,
       |pieces AS (SELECT wc.doc_id, wc.n AS wn, unnest(f.toks) AS piece
       |           FROM wcnt wc JOIN final f ON f.w = wc.w)
       |SELECT piece, CAST(sum(wn) AS BIGINT) AS n
       |FROM pieces GROUP BY piece
       |ORDER BY n DESC, piece LIMIT 50""".stripMargin

  /** Shared byte-level ID-STREAM CTE chain (composes after
    * [[byteMergeCtes]]): the merge-derived vocab (`voc`), ordered
    * pre-tokens (`seg`), per-word piece positions (`tok`), and the
    * per-doc id stream `dtok(doc_id, wpos, j, token_id)`. Used by
    * [[qTokenIdsSql]] and [[qPackIdsSql]] — ONE spelling of the id
    * numbering. */
  private def byteSegCte: String = {
    val pre = graft.ops.ByteLevel.OraclePreTokenPattern.replace("'", "''")
    s"""seg AS (SELECT doc_id, u.i AS wpos, ms[u.i] AS w
       |        FROM (SELECT doc_id, regexp_extract_all(text, '$pre') AS ms
       |              FROM documents),
       |             UNNEST(generate_series(1, len(ms))) AS u(i))""".stripMargin
  }

  private def byteIdTail: String = {
    val pieces = Bpe.fixtureMergesByteLevel
      .map { case (a, b) => "'" + (a + b).replace("'", "''") + "'" }
      .mkString("[", ",", "]")
    // base symbols in PUBLISHED id order (ascending mapped code
    // point — how the GPT-2 vocab numbers them), then merge products
    s"""voc AS (SELECT list_concat(${graft.ops.ByteLevel.sortedByteTableSql},
       |          $pieces) AS v),
       |tok AS (SELECT s.doc_id, s.wpos, u.j, f.toks[u.j] AS piece
       |        FROM seg s JOIN final f USING (w),
       |             UNNEST(generate_series(1, len(f.toks))) AS u(j)),
       |dtok AS (SELECT doc_id, wpos, j,
       |           CAST(list_position(voc.v, piece) - 1 AS BIGINT) AS token_id
       |         FROM tok CROSS JOIN voc)""".stripMargin
  }

  /** The id-oracle prelude: ordered extraction once, the merge chain
    * fed from it, then vocab/positions/ids. */
  private def byteIdCtes: String =
    s"""$byteSegCte,
       |${byteMergeCtesFrom("pt AS (SELECT doc_id, w FROM seg)")},
       |$byteIdTail""".stripMargin

  /** Shared byte-level PACK-LAYOUT CTE chain (composes after
    * [[byteMergeCtes]]'s `bdoc`): the d/s/e/p sharded prefix-sum
    * layout at the byte entries' budget, ending in
    * `p(doc_id, k, toks, shard, pack_id, ...)`. Used by
    * [[qPackBytelevelSql]] and [[qPackIdsSql]] — ONE spelling of the
    * layout. */
  private def bytePackCtes: String = bytePackCtesExtra(0)

  /** [[bytePackCtes]] with `extra` tokens added to every document's
    * budget weight — the EOS-separator entry packs each doc at
    * size(ids) + 1. */
  private def bytePackCtesExtra(extra: Int): String =
    s"""d AS (SELECT dd.doc_id, md5(CAST(dd.doc_id AS VARCHAR)) AS k,
       |    COALESCE(b.n_tokens, 0) + $extra AS toks
       |  FROM documents dd LEFT JOIN bdoc b USING (doc_id)),
       |s AS (SELECT *,
       |    CAST('0x' || substr(k, 1, 7) AS BIGINT) % 8 AS shard FROM d),
       |e AS (SELECT *, COALESCE(CAST(sum(toks) OVER (
       |    PARTITION BY shard ORDER BY k, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    0) AS excl FROM s),
       |p AS (SELECT *, CAST(floor(excl / 1024) AS BIGINT) AS pack_id FROM e)"""
      .stripMargin

  /** TOKEN IDS — the training batch itself: every document
    * materialized as (doc_id, pos, token_id) under the byte-level
    * tokenizer, ids from the merge-DERIVED vocabulary (256 byte
    * symbols then one piece per rule in rank order — the published
    * numbering, so with a real merges file these are its published
    * ids). Counting and packing budget the layout; THIS is what the
    * packed sequences contain. The oracle rebuilds the id stream
    * independently: ordered pre-tokens, per-word recursion pieces in
    * order, `list_position` into the reconstructed vocab. */
  def qTokenIds(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(Bpe.byteTokenIds(col("text"), Bpe.fixtureMergesByteLevel)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").cast("long").as("token_id"))
      .orderBy(col("doc_id"), col("pos"))

  val qTokenIdsSql: String =
    s"""WITH RECURSIVE
       |$byteIdCtes
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, j) - 1
       |    AS BIGINT) AS pos, token_id
       |FROM dtok
       |ORDER BY doc_id, pos""".stripMargin

  /** DETOKENIZATION round trip — the id stream decoded back to the
    * document through the inverse vocabulary
    * ([[graft.ops.Bpe.byteDecodeIds]]): ids -> pieces -> byte symbols
    * -> UTF-8 text, compared against the original. The
    * loader-faithfulness gate: q_token_ids proves the ids are RIGHT,
    * this proves they are SUFFICIENT — a loader holding only the id
    * stream and the merges file reconstructs the corpus bit-for-bit.
    * Both directions run inside WholeStageCodegen; one scan, no
    * shuffle (the output is one row per doc from a scan-stage map).
    */
  def qDetokenize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        Bpe.byteTokenIds(col("text"), Bpe.fixtureMergesByteLevel).as("ids"))
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_ids"),
        Bpe.byteDecodeIds(col("ids"), Bpe.fixtureMergesByteLevel)
          .as("decoded"),
        col("text"))
      .select(col("doc_id"), col("n_ids"),
        length(col("decoded")).cast("long").as("decoded_chars"),
        (col("decoded") === col("text")).cast("long").as("ok"))
      .orderBy(col("doc_id"))

  /** DuckDB replay of [[qDetokenize]]: ids re-derived through the
    * byte-level recursion, the INVERSE vocab lookup replayed
    * relationally (`voc.v[token_id + 1]`), pieces reassembled in
    * stream order. The symbol->byte step reduces to the single
    * Ġ->space replace because the corpus tables are printable-ASCII —
    * the same documented corpus-domain simplification as
    * [[graft.ops.ByteLevel.OraclePreTokenPattern]]; the general
    * inverse is pinned Spark-side by ByteLevelSpec on non-ASCII
    * vectors. Docs with no pre-tokens decode to ''. */
  val qDetokenizeSql: String =
    s"""WITH RECURSIVE
       |$byteIdCtes,
       |dec AS (SELECT d.doc_id,
       |          string_agg(voc.v[CAST(d.token_id AS INT) + 1], ''
       |            ORDER BY d.wpos, d.j) AS sym,
       |          CAST(count(*) AS BIGINT) AS n_ids
       |        FROM dtok d CROSS JOIN voc GROUP BY d.doc_id)
       |SELECT doc.doc_id, COALESCE(dec.n_ids, 0) AS n_ids,
       |  CAST(strlen(COALESCE(replace(dec.sym, chr(288), ' '), ''))
       |    AS BIGINT) AS decoded_chars,
       |  CAST(COALESCE(replace(dec.sym, chr(288), ' '), '') = doc.text
       |    AS BIGINT) AS ok
       |FROM documents doc LEFT JOIN dec ON doc.doc_id = dec.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  /** TOKEN-WINDOW CHUNKING — the retrieval/long-document split: each
    * doc's byte-level id stream cut into 32-token windows at stride
    * 24 (overlapping, RAG-style; the last window of a doc may be
    * short). Packing concatenates docs into loader bins; THIS splits
    * one doc into standalone windows ([[Chunk.tokenIdChunks]]). The
    * oracle rebuilds the id stream through the byte-level recursion,
    * then replays the window arithmetic relationally (chunk starts
    * via generate_series, membership by position range). */
  def qChunkIds(s: SparkSession, dir: String): DataFrame =
    Chunk.tokenIdChunks(Tables.documents(s, dir),
        textCol = "text", idCol = "doc_id",
        chunkSize = 32, stride = 24, merges = Bpe.fixtureMergesByteLevel)
      .orderBy(col("doc_id"), col("chunk_id"), col("cpos"))

  val qChunkIdsSql: String =
    s"""WITH RECURSIVE
       |$byteIdCtes,
       |g AS (SELECT doc_id,
       |        CAST(row_number() OVER (PARTITION BY doc_id
       |          ORDER BY wpos, j) - 1 AS BIGINT) AS pos, token_id
       |      FROM dtok),
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
       |      FROM g GROUP BY doc_id),
       |st AS (SELECT doc_id, u.s AS start
       |       FROM n, UNNEST(generate_series(0, nt - 1, 24)) AS u(s))
       |SELECT g.doc_id, CAST(st.start // 24 AS BIGINT) AS chunk_id,
       |  CAST(g.pos - st.start AS BIGINT) AS cpos, g.token_id
       |FROM g JOIN st ON g.doc_id = st.doc_id
       |  AND g.pos >= st.start AND g.pos < st.start + 32
       |ORDER BY g.doc_id, chunk_id, cpos""".stripMargin

  /** PACKED SEQUENCES materialized: the end product of the whole
    * curation chain — each (shard, pack) emitted as its actual token-id
    * stream, docs in the pack's deterministic (md5, id) layout order,
    * ids under the merge-derived vocabulary. [[qPackBytelevel]] is the
    * manifest of this layout; THIS is the training data a loader would
    * read. One window over (shard, pack) orders the stream; everything
    * upstream is scan-stage expressions. The oracle rebuilds the
    * packing AND the id streams independently and must agree on every
    * (shard, pack, position, id) quadruple. */
  def qPackIds(s: SparkSession, dir: String): DataFrame =
    packIdStream(s, dir, appendEos = false)

  /** Shared body of [[qPackIds]] / [[qPackIdsEos]] — ONE scan: the id
    * array is the only tokenizer pass, the pack budget is size(ids)
    * (identical to byteTokenCount by construction, + 1 when the EOS
    * separator rides along), so no second ranker and no self-join. */
  private def packIdStream(s: SparkSession, dir: String,
      appendEos: Boolean): DataFrame = {
    val ids0 = Bpe.byteTokenIds(col("text"), Bpe.fixtureMergesByteLevel)
    val ids = if (appendEos)
      concat(ids0, array(lit(Bpe.eosId(Bpe.fixtureMergesByteLevel))))
    else ids0
    val withIds = Tables.documents(s, dir)
      .select(col("doc_id").as("id"), ids.as("ids"))
    val assigned = Pack.assignPacksOn(withIds, "id",
      size(col("ids")).cast("long"), budget = 1024L, nShards = 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("pack_id"))
      .orderBy(col("k"), col("id"), col("pos"))
    assigned
      .select(col("shard"), col("pack_id"), col("k"), col("id"),
        posexplode(col("ids")))
      .withColumn("seq_pos", (row_number().over(w) - 1).cast("long"))
      .select(col("shard"), col("pack_id"), col("seq_pos"),
        col("col").cast("long").as("token_id"))
      .orderBy(col("shard"), col("pack_id"), col("seq_pos"))
  }

  val qPackIdsSql: String =
    s"""WITH RECURSIVE
       |$byteIdCtes,
       |$bytePackCtes
       |SELECT p.shard, p.pack_id,
       |  CAST(row_number() OVER (PARTITION BY p.shard, p.pack_id
       |    ORDER BY p.k, p.doc_id, t.wpos, t.j) - 1 AS BIGINT) AS seq_pos,
       |  t.token_id
       |FROM p JOIN dtok t USING (doc_id)
       |ORDER BY shard, pack_id, seq_pos""".stripMargin

  /** Packed sequences WITH DOCUMENT BOUNDARIES: [[qPackIds]] with the
    * end-of-text special token appended to every document's id stream
    * — [[Bpe.eosId]], the published convention (special ids number
    * after the merge products; GPT-2's 50,000 rules put
    * `<|endoftext|>` at exactly its published 50256). This is the
    * loader-ready layout: a consumer of one packed sequence finds doc
    * boundaries without a manifest join. Budget weights are
    * size(ids) + 1, so the oracle's layout adds one token per doc and
    * appends an EOS row ordered after every in-doc position. */
  def qPackIdsEos(s: SparkSession, dir: String): DataFrame =
    packIdStream(s, dir, appendEos = true)

  val qPackIdsEosSql: String = {
    val eos = Bpe.eosId(Bpe.fixtureMergesByteLevel)
    s"""WITH RECURSIVE
       |$byteIdCtes,
       |dtok2 AS (SELECT doc_id, wpos, j, token_id FROM dtok
       |          UNION ALL
       |          SELECT doc_id, 2147483647, 0, $eos FROM documents),
       |${bytePackCtesExtra(1)}
       |SELECT p.shard, p.pack_id,
       |  CAST(row_number() OVER (PARTITION BY p.shard, p.pack_id
       |    ORDER BY p.k, p.doc_id, t.wpos, t.j) - 1 AS BIGINT) AS seq_pos,
       |  t.token_id
       |FROM p JOIN dtok2 t USING (doc_id)
       |ORDER BY shard, pack_id, seq_pos""".stripMargin
  }

  /** BPE vocabulary learning: top-160 prefix-closed subword pieces by
    * merge savings over the documents corpus. The checked-in fixture
    * driving [[qPackBpe]] IS this query's output (BpeSpec pins that). */
  def qBpeVocab(s: SparkSession, dir: String): DataFrame =
    Bpe.learnVocab(Tables.documents(s, dir), textCol = "text", k = 160)

  val qBpeVocabSql: String =
    s"""WITH pt AS (SELECT unnest(regexp_extract_all(text,
       |              '${Bpe.PreTokenPattern}')) AS w FROM documents),
       |cand AS (SELECT substr(w, 1, i) AS piece
       |         FROM (SELECT w, unnest(generate_series(2, length(w))) AS i
       |               FROM pt WHERE length(w) >= 2)),
       |agg AS (SELECT piece, CAST(count(*) AS BIGINT) AS n
       |        FROM cand GROUP BY piece)
       |SELECT piece, n, CAST(n * (length(piece) - 1) AS BIGINT) AS score
       |FROM agg ORDER BY score DESC, piece LIMIT 160""".stripMargin

  /** Source mixing: a 4-source whitelist mixture (40/30/20/10) at a
    * 3000-token budget, salted-md5 deterministic — kept rows carry
    * the per-source availability, target, rate, and kept-set audit. */
  def qMix(s: SparkSession, dir: String): DataFrame =
    Mix.mix(Tables.documents(s, dir),
        textCol = "text", idCol = "doc_id", sourceCol = "source",
        weights = Seq("src0" -> 0.4, "src1" -> 0.3,
          "src2" -> 0.2, "src3" -> 0.1),
        budgetTokens = 3000L, salt = "mix6")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  private def mixSql(toksExpr: String, budget: Long, salt: String): String =
    s"""WITH base AS (SELECT doc_id, source,
       |    $toksExpr AS n_tokens,
       |    ${Mix.bucketPpmSql("doc_id", salt)} AS ppm
       |  FROM documents),
       |avail AS (SELECT source, CAST(count(*) AS BIGINT) AS avail_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
       |  FROM base GROUP BY source),
       |tgt AS (SELECT *, CAST(floor(
       |    CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
       |      WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1 ELSE 0.0 END
       |    * $budget.0) AS BIGINT) AS target_tokens FROM avail),
       |rt AS (SELECT *, CASE WHEN avail_tokens = 0 THEN 0
       |    ELSE least(1000000, CAST(floor(
       |    1000000.0 * target_tokens / avail_tokens) AS BIGINT)) END
       |    AS rate_ppm FROM tgt),
       |kept AS (SELECT b.doc_id, b.source, b.n_tokens, r.avail_docs,
       |    r.avail_tokens, r.target_tokens, r.rate_ppm
       |  FROM base b JOIN rt r USING (source) WHERE b.ppm < r.rate_ppm),
       |audit AS (SELECT source, CAST(count(*) AS BIGINT) AS src_kept_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS src_kept_tokens
       |  FROM kept GROUP BY source)
       |SELECT k.doc_id, k.source, k.n_tokens, k.avail_docs, k.avail_tokens,
       |  k.target_tokens, k.rate_ppm, a.src_kept_docs, a.src_kept_tokens
       |FROM kept k JOIN audit a USING (source)
       |ORDER BY doc_id""".stripMargin

  val qMixSql: String =
    mixSql("CAST(len(str_split(text, ' ')) AS BIGINT)", 3000L, "mix6")

  /** Source mixing budgeted in the PRODUCTION token currency: the
    * same whitelist mixture with per-doc/per-source token accounting
    * done by the 50k-piece trie ([[Bpe.prodTokenCount]]) instead of
    * whitespace words — availability, targets, rates, and the kept
    * audit all in real tokenizer units, which is what a training
    * budget actually buys. Oracle replays the closed form. */
  def qMixBpe50k(s: SparkSession, dir: String): DataFrame =
    Mix.mix(Tables.documents(s, dir),
        textCol = "text", idCol = "doc_id", sourceCol = "source",
        weights = Seq("src0" -> 0.4, "src1" -> 0.3,
          "src2" -> 0.2, "src3" -> 0.1),
        budgetTokens = 8000L, salt = "mix50k",
        tokensOf = Bpe.prodTokenCount)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  val qMixBpe50kSql: String =
    mixSql(Bpe.prodTokensSqlExpr("text"), 8000L, "mix50k")

  /** Upsampling mixture ([[Mix.mixEpochs]]): the same 4-source
    * whitelist at a budget large enough that the scarce high-weight
    * sources repeat (rate > 1 — integer epochs via replication, the
    * fractional epoch via the ppm bucket) while low-weight sources
    * still downsample — both regimes in one entry, one row per
    * (doc, epoch). */
  def qMixEpochs(s: SparkSession, dir: String): DataFrame =
    Mix.mixEpochs(Tables.documents(s, dir),
        textCol = "text", idCol = "doc_id", sourceCol = "source",
        weights = Seq("src0" -> 0.1, "src1" -> 0.2,
          "src2" -> 0.3, "src3" -> 0.4),
        budgetTokens = 100000L, salt = "mix7",
        // fixed demo budget vs an SF-scaled corpus: at sf0.001 the
        // scarce source needs ~300 epochs, so the entry opts above
        // the production-shaped default guard explicitly
        maxEpochs = 512)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("epoch"))

  val qMixEpochsSql: String =
    s"""WITH base AS (SELECT doc_id, source,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${Mix.bucketPpmSql("doc_id", "mix7")} AS ppm
       |  FROM documents),
       |avail AS (SELECT source, CAST(count(*) AS BIGINT) AS avail_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
       |  FROM base GROUP BY source),
       |tgt AS (SELECT *, CAST(floor(
       |    CASE source WHEN 'src0' THEN 0.1 WHEN 'src1' THEN 0.2
       |      WHEN 'src2' THEN 0.3 WHEN 'src3' THEN 0.4 ELSE 0.0 END
       |    * 100000.0) AS BIGINT) AS target_tokens FROM avail),
       |rt AS (SELECT *, CASE WHEN avail_tokens = 0 THEN 0
       |    ELSE CAST(floor(1000000.0 * target_tokens / avail_tokens)
       |      AS BIGINT) END AS rate_ppm FROM tgt),
       |cp AS (SELECT b.doc_id, b.source, b.n_tokens, r.avail_docs,
       |    r.avail_tokens, r.target_tokens, r.rate_ppm,
       |    (r.rate_ppm + 999999 - b.ppm) // 1000000 AS n_copies
       |  FROM base b JOIN rt r USING (source)),
       |kept AS (SELECT cp.*, unnest(generate_series(0, n_copies - 1))
       |    AS epoch FROM cp WHERE n_copies > 0),
       |audit AS (SELECT source, CAST(count(*) AS BIGINT) AS src_kept_copies,
       |    CAST(sum(n_tokens) AS BIGINT) AS src_kept_tokens
       |  FROM kept GROUP BY source)
       |SELECT k.doc_id, k.epoch, k.source, k.n_tokens, k.avail_docs,
       |  k.avail_tokens, k.target_tokens, k.rate_ppm, k.n_copies,
       |  a.src_kept_copies, a.src_kept_tokens
       |FROM kept k JOIN audit a USING (source)
       |ORDER BY doc_id, epoch""".stripMargin

  /** Subword-piece frequencies under the production 50k vocab: the
    * token-ARRAY trie path ([[Bpe.tokensFast]]) exploded and counted,
    * top 50 pieces — the vocabulary-usage profile a tokenizer owner
    * audits (which pieces actually fire on this corpus). The oracle
    * re-derives the SEGMENTATION (not just counts) from the vocab's
    * closed form: first-piece 4-cut, 3-chunks, code-point fallbacks. */
  def qSubwords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Bpe.tokensFast(col("text"), Bpe.prodVocab)).as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(50)

  val qSubwordsSql: String = {
    val k1 = s"CASE WHEN length(m)-1 >= 4 AND substr(m,2,4) < '${Bpe.ProdVocab4Cut}' " +
      "THEN 4 ELSE least(length(m)-1, 3) END"
    s"""WITH seg AS (SELECT doc_id,
       |    unnest(regexp_extract_all(text, ' [a-z]+|[a-z]+|[\\s\\S]')) AS m
       |  FROM documents),
       |pieces AS (SELECT doc_id, unnest(
       |  CASE
       |    WHEN substr(m,1,1) = ' ' AND length(m) >= 2 THEN
       |      list_concat(
       |        [' ' || substr(m, 2, $k1)],
       |        list_transform(
       |          generate_series(1,
       |            CAST(ceil((length(m) - 1 - ($k1)) / 3.0) AS BIGINT)),
       |          i -> substr(m, 2 + ($k1) + 3*(i-1), 3)))
       |    WHEN regexp_matches(m, '^[a-z]+$$') THEN
       |      list_transform(
       |        generate_series(1, CAST(ceil(length(m)/3.0) AS BIGINT)),
       |        i -> substr(m, 1 + 3*(i-1), 3))
       |    ELSE [m] END) AS piece FROM seg)
       |SELECT piece, CAST(count(*) AS BIGINT) AS n
       |FROM pieces GROUP BY piece
       |ORDER BY n DESC, piece LIMIT 50""".stripMargin
  }

  /** Packing an UPSAMPLED mixture: [[Mix.mixEpochs]] emits multiple
    * copies per doc, and a copy is its own training instance — so the
    * pack layout keys on (doc, epoch), not doc. Feeding duplicate doc
    * ids into [[Pack.assignPacks]] would tie its (md5-key, id) window
    * order between copies and make pack boundaries nondeterministic;
    * the composite `copy_id` restores a total order, and the
    * already-computed `n_tokens` rides through as the budget currency
    * (identity `tokensOf` — no re-tokenization of repeated text).
    * Deterministic end to end: same layout on every engine, run, and
    * partitioning. */
  def qPackEpochs(s: SparkSession, dir: String): DataFrame =
    packOnCopies(Mix.mixEpochs(Tables.documents(s, dir),
      textCol = "text", idCol = "doc_id", sourceCol = "source",
      weights = Seq("src0" -> 0.1, "src1" -> 0.2,
        "src2" -> 0.3, "src3" -> 0.4),
      budgetTokens = 100000L, salt = "mix7", maxEpochs = 512))

  /** Pack an upsampled mixture on the per-copy key — a copy is its
    * own training instance, and the composite `copy_id` restores the
    * total (md5-key, id) window order that duplicate doc ids would
    * tie. The mixture's already-computed `n_tokens` rides through as
    * the budget currency (identity `tokensOf` — no re-tokenization of
    * repeated text). Shared by [[qPackEpochs]] / [[qCurationFull]]. */
  private def packOnCopies(mixed: DataFrame): DataFrame =
    Pack.packSummary(
      mixed.select(
        concat_ws("#", col("id"), col("epoch")).as("copy_id"),
        col("n_tokens")),
      textCol = "n_tokens", idCol = "copy_id",
      budget = 1024L, nShards = 8, tokensOf = c => c)

  /** The per-source weight CASE every mixture oracle shares. */
  private def weightsCase(ws: Seq[(String, Double)]): String =
    "CASE source " +
      ws.map { case (s, w) => s"WHEN '$s' THEN $w" }.mkString(" ") +
      " ELSE 0.0 END"

  /** Upsampling-mixture CTE chain (cross-engine twin of
    * [[Mix.mixEpochs]]'s keep logic): from a docs CTE/table `from`
    * (doc_id, source, text) to `keptc` — one row per kept (doc,
    * epoch). The uncapped rate and the
    * `(rate_ppm + 999999 - ppm) DIV 1e6` copy formula live HERE,
    * once; [[qMixEpochsSql]] keeps its own audit-rich spelling. */
  private def epochsCtes(ws: Seq[(String, Double)], budget: Long,
      salt: String, from: String): String =
    s"""base AS (SELECT doc_id, source,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${Mix.bucketPpmSql("doc_id", salt)} AS ppm
       |  FROM $from),
       |avail AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
       |  FROM base GROUP BY source),
       |tgt AS (SELECT *, CAST(floor(${weightsCase(ws)}
       |    * $budget.0) AS BIGINT) AS target_tokens FROM avail),
       |rt AS (SELECT *, CASE WHEN avail_tokens = 0 THEN 0
       |    ELSE CAST(floor(1000000.0 * target_tokens / avail_tokens)
       |      AS BIGINT) END AS rate_ppm FROM tgt),
       |cp AS (SELECT b.doc_id, b.n_tokens,
       |    (r.rate_ppm + 999999 - b.ppm) // 1000000 AS n_copies
       |  FROM base b JOIN rt r USING (source)),
       |keptc AS (SELECT cp.*, unnest(generate_series(0, n_copies - 1))
       |    AS epoch FROM cp WHERE n_copies > 0)""".stripMargin

  /** Per-copy pack layout + final manifest SELECT over `keptc`
    * (cross-engine twin of [[packOnCopies]]). */
  private[queries] val packCopiesTail: String =
    s"""pd AS (SELECT CAST(doc_id AS VARCHAR) || '#' ||
       |      CAST(epoch AS VARCHAR) AS copy_id,
       |    n_tokens AS toks FROM keptc),
       |pk AS (SELECT *, md5(copy_id) AS k FROM pd),
       |ps AS (SELECT *,
       |    CAST('0x' || substr(k, 1, 7) AS BIGINT) % 8 AS shard FROM pk),
       |pe AS (SELECT *, COALESCE(CAST(sum(toks) OVER (
       |    PARTITION BY shard ORDER BY k, copy_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    0) AS excl FROM ps),
       |pp AS (SELECT *, CAST(floor(excl / 1024) AS BIGINT) AS pack_id FROM pe)
       |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS pack_tokens, min(copy_id) AS first_doc
       |FROM pp GROUP BY shard, pack_id
       |ORDER BY shard, pack_id""".stripMargin

  val qPackEpochsSql: String =
    s"""WITH ${epochsCtes(Seq("src0" -> 0.1, "src1" -> 0.2,
         "src2" -> 0.3, "src3" -> 0.4), 100000L, "mix7", "documents")},
       |$packCopiesTail""".stripMargin

  /** The END-TO-END curation chain as one entry — what a pretraining
    * data pipeline actually runs, composed from the library's own
    * operators with no glue logic:
    *
    *  1. dedup keep-list ([[TrainingQueries.keepFrame]]: MinHash
    *     candidates -> Jaccard verify -> components -> canonical per
    *     cluster), keep only canonicals;
    *  2. mix the deduped corpus to the 4-source target mixture
    *     ([[Mix.mix]], deterministic salted sampling);
    *  3. pack the mixture into fixed-token-budget training sequences
    *     ([[Pack.packSummary]]).
    *
    * Output: the per-pack manifest of the final training layout. The
    * oracle replays all three stages in one SQL statement (recursive
    * keep-list closure -> mix rates -> pack prefix sums) — the
    * strongest composition check in the suite: any drift in any stage
    * moves pack boundaries downstream. */
  /** Keep-list restriction: `docs` cut to its dedup canonicals
    * (shared by [[qCurationE2e]] / [[qCurationFull]]). */
  private def keptCanonicals(docs: DataFrame): DataFrame =
    docs.join(
      TrainingQueries.keepFrame(docs).filter(col("keep") === 1L)
        .select(col("id").as("doc_id")), Seq("doc_id"))

  def qCurationE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val kept = keptCanonicals(docs)
    val mixed = Mix.mix(kept,
      textCol = "text", idCol = "doc_id", sourceCol = "source",
      weights = Seq("src0" -> 0.4, "src1" -> 0.3,
        "src2" -> 0.2, "src3" -> 0.1),
      budgetTokens = 2500L, salt = "cur7")
    val selected = docs.join(
      mixed.select(col("id").as("doc_id")), Seq("doc_id"))
    Pack.packSummary(selected,
      textCol = "text", idCol = "doc_id", budget = 512L, nShards = 8)
  }

  val qCurationE2eSql: String =
    s"""WITH RECURSIVE ${TrainingQueries.keeplistCtes},
       |keptdocs AS (SELECT d.doc_id, d.source, d.text
       |  FROM documents d JOIN lbl ON lbl.doc_id = d.doc_id
       |  WHERE lbl.cluster_id = d.doc_id),
       |base AS (SELECT doc_id, source,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${Mix.bucketPpmSql("doc_id", "cur7")} AS ppm
       |  FROM keptdocs),
       |avail AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
       |  FROM base GROUP BY source),
       |tgt AS (SELECT *, CAST(floor(
       |    CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
       |      WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1 ELSE 0.0 END
       |    * 2500.0) AS BIGINT) AS target_tokens FROM avail),
       |rt AS (SELECT *, CASE WHEN avail_tokens = 0 THEN 0
       |    ELSE least(1000000, CAST(floor(
       |    1000000.0 * target_tokens / avail_tokens) AS BIGINT)) END
       |    AS rate_ppm FROM tgt),
       |mixkept AS (SELECT b.doc_id, b.n_tokens
       |  FROM base b JOIN rt USING (source) WHERE b.ppm < rt.rate_ppm),
       |pd AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
       |    n_tokens AS toks FROM mixkept),
       |ps AS (SELECT *,
       |    CAST('0x' || substr(k, 1, 7) AS BIGINT) % 8 AS shard FROM pd),
       |pe AS (SELECT *, COALESCE(CAST(sum(toks) OVER (
       |    PARTITION BY shard ORDER BY k, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    0) AS excl FROM ps),
       |pp AS (SELECT *, CAST(floor(excl / 512) AS BIGINT) AS pack_id FROM pe)
       |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS pack_tokens, min(doc_id) AS first_doc
       |FROM pp GROUP BY shard, pack_id
       |ORDER BY shard, pack_id""".stripMargin

  /** The COMPLETE curation pipeline — [[qCurationE2e]] extended with
    * decontamination and upsampling, i.e. every stage a pretraining
    * corpus passes on its way to the loader:
    *
    *  1. dedup keep-list (canonicals only);
    *  2. n-gram decontamination against the benchmark slice (every
    *     53rd doc plays the eval suite, the [[qDecontaminate]]
    *     convention); flagged docs drop, unshingleable docs are
    *     clean by definition (no n-gram evidence);
    *  3. Gopher-style repetition filtering
    *     ([[TextAnalysis.repetitionReport]]): docs whose top bigram
    *     takes >= 10% of all bigrams drop; docs under 2 tokens have
    *     no bigram evidence and stay;
    *  4. upsampling mixture ([[Mix.mixEpochs]]) — post-filter
    *     availability shrinks, so scarce sources repeat;
    *  5. packing on the per-copy key ([[qPackEpochs]]'s layout).
    *
    * One oracle replays all five stages; the keep-list closure,
    * overlap ratios, repetition shares, epoch counts, and pack
    * prefix sums must agree end to end for a single row to
    * hash-match. */
  def qCurationFull(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // corpus appears twice under clean (flaggedIds' shingle branch +
    // the anti-join's kept side); Spark does no common-subplan
    // elimination, so uncached the docs scan and keep-list join would
    // run twice inside clean's one materialization
    val corpus = keptCanonicals(docs)
      .filter(pmod(col("doc_id"), lit(53)) =!= 0)
      .scopedCache()
    val evalSet = docs.filter(pmod(col("doc_id"), lit(53)) === 0)
    val contaminated = Decontaminate.flaggedIds(corpus, evalSet,
        textCol = "text", idCol = "doc_id", evalIdCol = "doc_id",
        n = 3, flagAt = 0.2)
      .select(col("id").as("doc_id"))
    // clean feeds TWO branches (the repetition report and the
    // anti-join's kept side); uncached, the keep-list join and the
    // decontamination overlap would run once per branch
    val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
      .scopedCache()
    val repetitive = TextAnalysis.repetitionReport(clean,
        textCol = "text", idCol = "doc_id", flagAt = 0.1)
      .filter(col("repetitive") === 1L)
      .select(col("id").as("doc_id"))
    val filtered = clean.join(repetitive, Seq("doc_id"), "left_anti")
    packOnCopies(Mix.mixEpochs(filtered,
      textCol = "text", idCol = "doc_id", sourceCol = "source",
      weights = Seq("src0" -> 0.4, "src1" -> 0.3,
        "src2" -> 0.2, "src3" -> 0.1),
      budgetTokens = 20000L, salt = "cur7b", maxEpochs = 512))
  }

  val qCurationFullSql: String =
    s"""WITH RECURSIVE ${TrainingQueries.keeplistCtes},
       |corpusdocs AS (SELECT d.* FROM documents d
       |  JOIN lbl ON lbl.doc_id = d.doc_id
       |  WHERE lbl.cluster_id = d.doc_id AND d.doc_id % 53 <> 0),
       |cshc AS (SELECT s.id, s.g FROM sh0 s
       |  JOIN corpusdocs c ON s.id = c.doc_id),
       |cshe AS (SELECT id AS eval_id, g FROM sh0 WHERE id % 53 = 0),
       |${overlapCtes("cshc", "cshe", "c")},
       |contam AS (SELECT id FROM cbest WHERE ratio >= 0.2),
       |clean AS (SELECT * FROM corpusdocs
       |  WHERE doc_id NOT IN (SELECT id FROM contam)),
       |${topBigramCtes("clean", "rb")},
       |repflag AS (SELECT doc_id FROM rbtop
       |  WHERE rn = 1 AND n / (n_tokens - 1) >= 0.1),
       |filtered AS (SELECT * FROM clean
       |  WHERE doc_id NOT IN (SELECT doc_id FROM repflag)),
       |${epochsCtes(Seq("src0" -> 0.4, "src1" -> 0.3,
           "src2" -> 0.2, "src3" -> 0.1), 20000L, "cur7b", "filtered")},
       |$packCopiesTail""".stripMargin

  /** Semantic decontamination: best eval-slice cosine per corpus
    * embedding (every 53rd vector plays the eval set, as in
    * [[qDecontaminate]]). */
  def qDecontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Decontaminate.semanticOverlap(
        emb.filter(pmod(col("vec_id"), lit(53)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(53)) === 0),
        flagAt = 0.9)
      .orderBy(col("vec_id"))
  }

  val qDecontaminateSemanticSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |c AS (SELECT * FROM e WHERE vec_id % 53 <> 0),
      |q AS (SELECT vec_id AS eval_id, v AS qv FROM e WHERE vec_id % 53 = 0),
      |p AS (SELECT c.vec_id, q.eval_id,
      |        list_cosine_similarity(c.v, q.qv) AS sim
      |      FROM c CROSS JOIN q),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY sim DESC, eval_id) AS rn FROM p)
      |SELECT vec_id, eval_id, sim,
      |  CAST(sim >= 0.9 AS BIGINT) AS contaminated
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Gopher-style repetition metrics (duplicate-word ratio, top
    * bigram share) with a repetition flag. */
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionReport(Tables.documents(s, dir),
        textCol = "text", idCol = "doc_id", flagAt = 0.1)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Top-bigram CTE chain, shared by [[qRepetitionSql]] and
    * [[qCurationFullSql]] (cross-engine twin of
    * [[TextAnalysis.repetitionReport]]'s core): from a docs CTE/table
    * `from` (doc_id, text) to `${p}top` — per bigram-able doc (>= 2
    * tokens) its most frequent bigram (count DESC, ties to the
    * lexicographically first), rn = 1 marking the top row. The
    * repetition criterion is `n / (n_tokens - 1) >= flagAt` on that
    * row; the tie-break and ratio denominators live HERE, once. */
  private def topBigramCtes(from: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, str_split(text, ' ') AS w FROM $from),
       |${p}m AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tokens,
       |        CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
       |      FROM ${p}t WHERE len(w) >= 2),
       |${p}bi AS (SELECT doc_id, n_tokens, n_distinct,
       |         w[i] || ' ' || w[i+1] AS g
       |       FROM ${p}m, UNNEST(generate_series(1, len(w)-1)) AS u(i)),
       |${p}cnt AS (SELECT doc_id, n_tokens, n_distinct, g,
       |          CAST(count(*) AS BIGINT) AS n
       |        FROM ${p}bi GROUP BY doc_id, n_tokens, n_distinct, g),
       |${p}top AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |          ORDER BY n DESC, g) AS rn FROM ${p}cnt)""".stripMargin

  val qRepetitionSql: String =
    s"""WITH ${topBigramCtes("documents", "")}
      |SELECT doc_id, n_tokens,
      |  (n_tokens - n_distinct) / n_tokens AS dup_word_ratio,
      |  g AS top_bigram, n AS top_bigram_n,
      |  n / (n_tokens - 1) AS top_bigram_frac,
      |  CAST(n / (n_tokens - 1) >= 0.1 AS BIGINT) AS repetitive
      |FROM top WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Normalization + PII scrub with redaction counts. The synthetic
    * corpus contains no PII, so this entry's oracle validates the
    * cross-engine regex machinery on real text (identity output is
    * the correct answer here); `CurationSpec` plants PII and proves
    * the redaction itself. */
  def qTextClean(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        Scrub.redact(Scrub.cleanText(col("text"))).as("clean_text"),
        Scrub.emailCount(col("text")).as("n_emails"),
        Scrub.ipv4Count(col("text")).as("n_ips"))
      .orderBy(col("doc_id"))

  val qTextCleanSql: String =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text,
      |  CAST(len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(text,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Full PII scrub ([[graft.ops.PiiScrub.report]]): email / IPv4 /
    * SSN-shape / phone detectors applied in fixed order, counts taken
    * on each stage's input, every occurrence redacted. The synthetic
    * corpus carries no PII, so the entry INJECTS deterministic
    * synthetic PII on a doc_id modulus — mirrored verbatim in the
    * oracle SQL — and the DuckDB oracle therefore replays NONZERO
    * detection, ordering, and redaction at corpus scale (not just the
    * all-zero machinery pass); `PiiScrubSpec` additionally pins the
    * per-shape vectors and asserts the corpus signal stays nonzero. */
  private val PiiInjectA = " Reach me at jane.doe@example.com from 10.1.2.3 today."
  private val PiiInjectB = " SSN 123-45-6789; call +1 555-867-5309 or (212) 555-0144."

  def qPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val injected = Tables.documents(s, dir).select(
      col("doc_id"),
      concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 7 === 0, lit(PiiInjectA))
          .when(col("doc_id") % 7 === 3, lit(PiiInjectB))
          .otherwise(lit(""))).as("text"))
    graft.ops.PiiScrub.report(injected, "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  val qPiiScrubSql: String = {
    val stages = graft.ops.PiiScrub.Stages
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      s"""t${i + 1} AS (SELECT doc_id,${
        if (i > 0) " " + stages.take(i).map(_.countCol).mkString(", ") + "," else ""}
         |  CAST(len(regexp_extract_all(t, '${st.re}')) AS BIGINT) AS ${st.countCol},
         |  regexp_replace(t, '${st.re}', '${st.duckRepl}', 'g') AS t
         |FROM t$i)""".stripMargin
    }.mkString(",\n")
    val names = stages.map(_.countCol)
    s"""WITH t0 AS (SELECT doc_id, COALESCE(text, '') ||
       |    CASE WHEN doc_id % 7 = 0 THEN '$PiiInjectA'
       |         WHEN doc_id % 7 = 3 THEN '$PiiInjectB'
       |         ELSE '' END AS t FROM documents),
       |$ctes
       |SELECT doc_id, ${names.mkString(", ")}, t AS clean_text,
       |  ${names.mkString(" + ")} AS n_pii,
       |  CAST(${names.mkString(" + ")} > 0 AS BIGINT) AS has_pii
       |FROM t${stages.size} ORDER BY doc_id""".stripMargin
  }

  /** Unicode NFC canonicalization ([[graft.functions.NormExprs.nfc]],
    * a native codegen'd expression — Spark ships no normalization
    * function and a UDF would leave codegen). The synthetic corpus is
    * ASCII, so the entry APPENDS a decomposed sequence (`e` +
    * U+0301 COMBINING ACUTE) on a doc_id modulus — mirrored in the
    * oracle via `chr(769)` — so the DuckDB oracle (utf8proc) replays
    * NONZERO composition against the JVM normalizer at corpus scale;
    * `FunctionsSpec` pins the codepoint vectors, the no-allocation
    * fast path, and that the corpus signal stays nonzero. */
  def qNfcNorm(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir).select(
      col("doc_id"),
      concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 5 === 0, lit(" cafe\u0301"))
          .otherwise(lit(""))).as("t"))
    t.select(
        col("doc_id"),
        graft.functions.NormExprs.nfc(col("t")).as("norm_text"),
        (graft.functions.NormExprs.nfc(col("t")) =!= col("t"))
          .cast("long").as("changed"))
      .orderBy(col("doc_id"))
  }

  val qNfcNormSql: String =
    """WITH t0 AS (SELECT doc_id, COALESCE(text, '') ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' cafe' || chr(769)
      |         ELSE '' END AS t FROM documents)
      |SELECT doc_id, nfc_normalize(t) AS norm_text,
      |  CAST(nfc_normalize(t) <> t AS BIGINT) AS changed
      |FROM t0 ORDER BY doc_id""".stripMargin

  def entries: Map[String, (Run, String)] = Map(
    "q_pii_scrub" -> (qPiiScrub _, qPiiScrubSql),
    "q_nfc_norm" -> (qNfcNorm _, qNfcNormSql),
    "q_bpe_merges" -> (qBpeMerges _, qBpeMergesSql),
    "q_bpe_bytelevel" -> (qBpeBytelevel _, qBpeBytelevelSql),
    "q_pack_bytelevel" -> (qPackBytelevel _, qPackBytelevelSql),
    "q_subwords_bytelevel" -> (qSubwordsBytelevel _, qSubwordsBytelevelSql),
    "q_token_ids" -> (qTokenIds _, qTokenIdsSql),
    "q_detokenize" -> (qDetokenize _, qDetokenizeSql),
    "q_chunk_ids" -> (qChunkIds _, qChunkIdsSql),
    "q_pack_ids" -> (qPackIds _, qPackIdsSql),
    "q_pack_ids_eos" -> (qPackIdsEos _, qPackIdsEosSql),
    "q_curation_e2e" -> (qCurationE2e _, qCurationE2eSql),
    "q_curation_full" -> (qCurationFull _, qCurationFullSql),
    "q_bpe_vocab" -> (qBpeVocab _, qBpeVocabSql),
    "q_decontaminate" -> (qDecontaminate _, qDecontaminateSql),
    "q_decon_suites" -> (qDeconSuites _, qDeconSuitesSql),
    "q_decontaminate_bloom" -> (qDecontaminateBloom _, qDecontaminateBloomSql),
    "q_decontaminate_semantic" ->
      (qDecontaminateSemantic _, qDecontaminateSemanticSql),
    "q_importance" -> (qImportance _, qImportanceSql),
    "q_perplexity" -> (qPerplexity _, qPerplexitySql),
    "q_curriculum" -> (qCurriculum _, qCurriculumSql),
    "q_source_drift" -> (qSourceDrift _, qSourceDriftSql),
    "q_datacard" -> (qDatacard _, qDatacardSql),
    "q_rag_index" -> (qRagIndex _, qRagIndexSql),
    "q_mix" -> (qMix _, qMixSql),
    "q_mix_bpe50k" -> (qMixBpe50k _, qMixBpe50kSql),
    "q_mix_epochs" -> (qMixEpochs _, qMixEpochsSql),
    "q_pack" -> (qPack _, qPackSql),
    "q_epoch_order" -> (qEpochOrder _, qEpochOrderSql),
    "q_pack_nospan" -> (qPackNospan _, qPackNospanSql),
    "q_pack_bpe" -> (qPackBpe _, qPackBpeSql),
    "q_pack_bpe50k" -> (qPackBpe50k _, qPackBpe50kSql),
    "q_pack_epochs" -> (qPackEpochs _, qPackEpochsSql),
    "q_pack_merges" -> (qPackMerges _, qPackMergesSql),
    "q_repetition" -> (qRepetition _, qRepetitionSql),
    "q_subwords" -> (qSubwords _, qSubwordsSql),
    "q_subwords_merges" -> (qSubwordsMerges _, qSubwordsMergesSql),
    "q_text_clean" -> (qTextClean _, qTextCleanSql))
}
