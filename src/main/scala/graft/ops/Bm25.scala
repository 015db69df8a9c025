package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.CacheScope.Scoped

/** BM25 keyword retrieval over the documents table — the lexical arm
  * of a RAG retrieval stack (the semantic arm is the ANN family).
  *
  * Scoring is Robertson/Spärck Jones BM25 with one documented
  * deviation: the idf log is dropped in favor of the exact rational
  * `(N − df + 0.5) / (df + 0.5)` — `ln` is the one operation whose
  * last-ulp behavior differs across libm implementations, and every
  * score here must replay bit-for-bit in the DuckDB oracle. The
  * rational is strictly monotone in the classic idf, so single-term
  * ranking is identical; multi-term rankings weight rare terms more
  * sharply (the same exactly-replayable-integer trade the LM
  * perplexity gate makes, `LangModel.scala`).
  *
  * Per-term scores are floored to integer millionths and summed —
  * integer sums are associative, so the per-(query, doc) aggregate
  * is order-independent (the [[Pq]] ADC contract).
  *
  * Scale shape: the corpus explode is filtered to QUERY terms before
  * the tf aggregate (a broadcast semi-join — at 100 TB only matching
  * tokens leave the scan stage); df/N/avgLen are bounded aggregates
  * (≤|terms| rows + one global row) that ride along as broadcasts;
  * the score exchange carries slim (q_id, doc_id, ppm) partials with
  * map-side combine; the final top-k is a rank-limited window
  * (WindowGroupLimit: partial top-k per partition before the
  * exchange).
  */
object Bm25 {

  private val Scale = 1e6

  /** Top-k documents per query. `queries` must be a SMALL frame of
    * (q_id, qtext) — its distinct terms are broadcast. With
    * `excludeSelf`, a document never matches the query carrying its
    * own id (the related-documents shape). */
  def search(docs: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): DataFrame = {
    val terms = queries.select(col("q_id"),
      explode(split(col("qtext"), " ")).as("term")).distinct()
    val lens = graft.core.Par.widen(docs)
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("dl"))
    val stats = lens.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avg_len"))
    // corpus tokens filtered to query terms BEFORE the tf aggregate;
    // the doc length rides through the aggregate (constant per doc),
    // so no corpus-sized join-back is needed
    val tf = graft.core.Par.widen(docs)
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("dl"),
        explode(split(col(textCol), " ")).as("term"))
      .join(broadcast(terms.select("term").distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
      .scopedCache() // feeds df AND the scoring join
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(broadcast(terms), Seq("term"))
      .crossJoin(broadcast(stats))
      .filter(if (excludeSelf) col("doc_id") =!= col("q_id") else lit(true))
      .withColumn("idf",
        ((col("n_docs") - col("df")).cast("double") + 0.5) /
          (col("df").cast("double") + 0.5))
      .withColumn("tfpart",
        col("tf").cast("double") * (k1 + 1.0) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * (col("dl").cast("double") / col("avg_len")))))
      .withColumn("ppm", floor(lit(Scale) * col("idf") * col("tfpart")))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("ppm")).as("score_ppm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("score_ppm"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of
    * a lexical and a semantic ranked list: score(q, d) =
    * Σ_arms floor(1e6 / (base + rank)) — rank-only arithmetic, so
    * incomparable scores (BM25 ppm vs cosine) fuse without
    * calibration, and the integer contributions replay exactly.
    * Arms are top-k-per-query frames (bounded |Q|·k rows), so the
    * full-outer fusion join is small at any corpus scale. */
  def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int,
      base: Int = 60): DataFrame = {
    def contrib(r: Column): Column =
      coalesce(floor(lit(1000000.0) / (lit(base.toLong) + r)), lit(0L))
    val scored = lex.join(sem, Seq("q_id", "doc_id"), "full")
      .withColumn("rrf_ppm",
        contrib(col("lex_rank")) + contrib(col("sem_rank")))
      .withColumn("lex_rank", coalesce(col("lex_rank"), lit(-1L)))
      .withColumn("sem_rank", coalesce(col("sem_rank"), lit(-1L)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("rrf_ppm"),
        col("lex_rank"), col("sem_rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB replay of [[search]] as a composable WITH-body ending in
    * `bm25r(q_id, doc_id, score_ppm, rn)` — keep in lock-step with
    * the Spark plan above. `queryCte` must yield (q_id BIGINT,
    * qtext VARCHAR). */
  def searchCtes(queryCte: String,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): String = {
    val self = if (excludeSelf) " AND tf.doc_id <> terms.q_id" else ""
    s"""q AS (SELECT * FROM ($queryCte) AS t(q_id, qtext)),
       |terms AS (SELECT DISTINCT q_id, u.t AS term
       |          FROM q, UNNEST(str_split(qtext, ' ')) AS u(t)),
       |lens AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
       |         FROM documents),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |            CAST(sum(dl) AS DOUBLE) / count(*) AS avg_len FROM lens),
       |tok AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS dl,
       |          u.t AS term
       |        FROM documents, UNNEST(str_split(text, ' ')) AS u(t)),
       |tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM tok
       |       WHERE term IN (SELECT term FROM terms) GROUP BY doc_id, term),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |parts AS (SELECT terms.q_id, tf.doc_id,
       |            CAST(floor(1000000.0 *
       |              ((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5) /
       |               (CAST(dfreq.df AS DOUBLE) + 0.5)) *
       |              (CAST(tf.tf AS DOUBLE) * ${k1 + 1.0} /
       |               (CAST(tf.tf AS DOUBLE) +
       |                $k1 * (1.0 - $b + $b * (CAST(tf.dl AS DOUBLE) / stats.avg_len))))
       |            ) AS BIGINT) AS ppm
       |          FROM tf
       |          JOIN dfreq USING (term)
       |          JOIN terms USING (term)
       |          CROSS JOIN stats
       |          WHERE TRUE$self),
       |bm25sc AS (SELECT q_id, doc_id, CAST(sum(ppm) AS BIGINT) AS score_ppm
       |       FROM parts GROUP BY q_id, doc_id),
       |bm25r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY score_ppm DESC, doc_id) AS rn FROM bm25sc)""".stripMargin
  }

  /** Full standalone DuckDB replay of [[search]]. */
  def searchSql(queryCte: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): String =
    s"""WITH ${searchCtes(queryCte, k1, b, excludeSelf)}
       |SELECT q_id, CAST(rn AS BIGINT) AS rank, doc_id, score_ppm
       |FROM bm25r WHERE rn <= $k ORDER BY q_id, rank""".stripMargin
}
