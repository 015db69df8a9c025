package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eval-set decontamination: flag training documents whose n-gram
  * overlap with any benchmark/eval document exceeds a threshold — the
  * standard guard against test-set leakage when assembling pretraining
  * corpora (the GPT-3/PaLM-style n-gram collision check, here with
  * configurable n and an overlap-fraction criterion suited to short
  * documents).
  *
  * Scale shape: the candidate generator is an equi-join on the shingle
  * value between the corpus index and the EVAL index. Benchmark suites
  * are tiny next to a 100 TB corpus (thousands-to-millions of rows),
  * so the eval side is broadcast — the corpus is scanned once, nothing
  * shuffles on the corpus side, and per-doc aggregation is map-side
  * combined on (doc, eval_doc). No all-pairs plan at any scale.
  *
  * The shingle join keys on `xxhash64(g)`, a long, and carries the
  * eval shingle along as `eg`: a single integral key builds a
  * `LongHashedRelation` (first page 1 MiB) where a string key builds
  * an `UnsafeHashedRelation` whose `BytesToBytesMap` takes a whole
  * Tungsten page (64 MiB in a 3 GiB JVM) however few eval shingles
  * there are. Only exact matches count (`count(when(g === eg))`),
  * and a (doc, eval doc) group with none is dropped, so a hash
  * collision never adds a row. The exact check sits in the aggregate
  * on purpose: a post-join `filter(g === eg)` is pushed into the join
  * condition and turned back into a string join key.
  */
object Decontaminate {

  /** One row per shingle-able corpus doc: its best-overlapping eval
    * doc (by fraction of the EVAL doc's distinct n-grams present,
    * ties to the lowest eval id), with `contaminated` = 1 when that
    * fraction reaches `flagAt`. Docs shorter than `n` tokens cannot
    * collide and drop out (they carry no n-gram evidence).
    *
    * @param flagAt eval-coverage fraction at which a doc is flagged;
    *   1.0 = the whole eval doc appears n-gram-for-n-gram.
    */
  def overlapReport(
      corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, evalIdCol: String,
      n: Int = 3, flagAt: Double = 0.2): DataFrame = {
    val best = bestOverlap(corpus, evalSet, textCol, idCol, evalIdCol, n)
    // base = shingle-able corpus docs, derived WITHOUT a second
    // corpus explode (the shingle index is consumed once; a
    // distinct-over-shC base would re-run the scan+explode)
    val base = corpus
      .filter(size(TextAnalysis.tokens(col(textCol))) >= n)
      .select(col(idCol).as("id"))
    base
      .join(best, Seq("id"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .withColumn("ratio", coalesce(col("ratio"), lit(0.0)))
      .withColumn("contaminated", (col("ratio") >= flagAt).cast("long"))
      .select(col("id"), col("eval_id"), col("shared"), col("eval_ng"),
        col("ratio"), col("contaminated"))
  }

  /** Just the `id`s whose best eval overlap reaches `flagAt` — the
    * drop-list a curation pipeline anti-joins away. Unlike
    * [[overlapReport]] this skips the full-corpus base scan and left
    * join entirely: only docs present in the overlap frame can be
    * flagged, so the ratio-0 rows the report emits for clean docs are
    * never materialized. */
  def flaggedIds(
      corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, evalIdCol: String,
      n: Int = 3, flagAt: Double = 0.2): DataFrame =
    bestOverlap(corpus, evalSet, textCol, idCol, evalIdCol, n)
      .filter(col("ratio") >= flagAt)
      .select(col("id"))

  /** The flagged-docs report computed the way a 100 TB run would: a
    * bloom filter over the eval suite's shingles (built distributed,
    * bits-only — ~1.2 MB per million shingles at the default 1% fpp)
    * prunes the corpus INSIDE the scan stage
    * ([[graft.functions.BloomExprs.shingleMightOverlap]], codegen'd),
    * so the shingle explode + eval equi-join — the exact path's
    * dominant cost, |tokens| rows per document — runs only over bloom
    * survivors: the contaminated tail plus an fpp-sized sliver of the
    * clean majority. Bloom filters have no false negatives, and a
    * doc's overlap row is independent of other docs, so the exact
    * verify downstream discards exactly the false positives: the
    * output is bit-identical to filtering [[overlapReport]] at
    * `flagAt` (OpsSpec pins this).
    *
    * Emits only flagged docs (id, eval_id, shared, eval_ng, ratio) —
    * the drop-list with its evidence, which is what the pruning shape
    * can produce without a full-corpus left join. */
  def flaggedReportBloom(
      corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, evalIdCol: String,
      n: Int = 3, flagAt: Double = 0.2, fpp: Double = 0.01): DataFrame = {
    val shE = Dedup.wordShingles(evalSet, textCol, evalIdCol, n)
    // distinct before counting: BloomFilter.create sizes bits from the
    // expected DISTINCT item count; duplicate inserts are harmless
    val nItems = shE.select(col("g")).distinct().count()
    if (nItems == 0L)
      // no eval n-grams -> nothing can be flagged; keep the schema
      return corpus.sparkSession.createDataFrame(
        corpus.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("eval_id",
            evalSet.schema(evalIdCol).dataType),
          org.apache.spark.sql.types.StructField("shared",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("eval_ng",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ratio",
            org.apache.spark.sql.types.DoubleType))))
    val bloom = shE.stat.bloomFilter("g", nItems, fpp)
    val pruned = corpus.filter(
      graft.functions.BloomExprs.shingleMightOverlap(col(textCol), n, bloom))
    bestOverlap(pruned, evalSet, textCol, idCol, evalIdCol, n)
      .filter(col("ratio") >= flagAt)
      .select(col("id"), col("eval_id"), col("shared"), col("eval_ng"),
        col("ratio"))
  }

  /** Shared core of [[overlapReport]] / [[flaggedIds]]: one row per
    * corpus doc that shares at least one n-gram with some eval doc —
    * its best-overlapping eval doc (ratio DESC, ties to lowest
    * eval_id). Columns: id, eval_id, shared, eval_ng, ratio. */
  /** The eval suite's shingle frame (eval_id, g) — precompute and
    * cache this for a long-lived drain so the static suite shingles
    * once, not once per micro-batch. */
  def evalShingles(evalSet: DataFrame, textCol: String,
      evalIdCol: String, n: Int = 3): DataFrame =
    Dedup.wordShingles(evalSet, textCol, evalIdCol, n)
      .withColumnRenamed("id", "eval_id")

  /** [[flaggedIds]] against a PRE-SHINGLED eval frame — the
    * continuous-ingest arm. */
  def flaggedIdsPreShingled(
      corpus: DataFrame, shE: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3, flagAt: Double = 0.2): DataFrame =
    bestOverlapShingled(
        Dedup.wordShingles(corpus, textCol, idCol, n), shE)
      .filter(col("ratio") >= flagAt)
      .select(col("id"))

  /** MULTI-SUITE decontamination: the eval corpus carries a
    * `suiteCol` (MMLU vs GSM vs ... — labs decontaminate against many
    * benchmarks at once and must report WHICH one a doc collides
    * with), and the report keeps one best-overlap row per (doc,
    * suite) that reaches `flagAt` — per-benchmark attribution instead
    * of one global verdict, so a release note can say "n docs dropped
    * for suite X" and a miss in one suite never hides behind a hit in
    * another.
    *
    * Scale shape: identical to the single-suite path — the suite
    * label rides the broadcast eval side; the corpus pays the same
    * one shingle join. */
  def suiteOverlap(
      corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, evalIdCol: String,
      suiteCol: String, n: Int = 3, flagAt: Double = 0.2): DataFrame = {
    val shC = Dedup.wordShingles(corpus, textCol, idCol, n)
    // eval_ng carries through the broadcast side (same carryCols move
    // as bestOverlapShingled) — a separate sizes aggregate would
    // re-derive the eval shingle lineage, one more corpus scan
    val shE = evalShingles(evalSet, textCol, evalIdCol, n)
      .withColumn("eval_ng",
        count(lit(1)).over(Window.partitionBy(col("eval_id"))))
    val suites = evalSet
      .select(col(evalIdCol).as("eval_id"), col(suiteCol).as("suite"))
      .distinct()
    // per-(doc, suite) best row as an argmax aggregate (map-side
    // partial combine, no window sort) — same (ratio DESC, eval_id
    // ASC) order as the old row_number spelling
    shingleMatches(shC, shE)
      .join(broadcast(suites), Seq("eval_id"))
      .withColumn("ratio", col("shared") / col("eval_ng"))
      .groupBy(col("id"), col("suite"))
      .agg(max(struct(col("ratio"), (-col("eval_id")).as("nid"),
        col("shared"), col("eval_ng"))).as("b"))
      .filter(col("b.ratio") >= flagAt)
      .select(col("id"), col("suite"), (-col("b.nid")).as("eval_id"),
        col("b.shared").as("shared"), col("b.eval_ng").as("eval_ng"),
        col("b.ratio").as("ratio"))
  }

  private def bestOverlap(
      corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, evalIdCol: String,
      n: Int): DataFrame =
    bestOverlapShingled(
      Dedup.wordShingles(corpus, textCol, idCol, n),
      evalShingles(evalSet, textCol, evalIdCol, n))

  private def bestOverlapShingled(shC: DataFrame, shE: DataFrame): DataFrame = {
    // eval_ng CARRIES through the broadcast side instead of a second
    // aggregate over shE (the Cms.estimate carryCols lesson): a
    // separate evalSizes frame re-derives the whole eval shingle
    // lineage — one more corpus scan per entry — where a window over
    // the already-broadcast-small eval side costs one local sort
    val shEw = shE.withColumn("eval_ng",
      count(lit(1)).over(Window.partitionBy(col("eval_id"))))
    // the per-doc best row reduces as an argmax AGGREGATE —
    // max(struct(ratio, -eval_id, ...)) is exactly the old window's
    // (ratio DESC, eval_id ASC) order — so it partial-combines
    // map-side: each task ships ONE candidate per doc instead of
    // exchanging and sorting every (doc, eval) overlap row under a
    // row_number window (which also had no AQE skew split)
    shingleMatches(shC, shEw)
      .withColumn("ratio", col("shared") / col("eval_ng"))
      .groupBy(col("id"))
      .agg(max(struct(col("ratio"), (-col("eval_id")).as("nid"),
        col("shared"), col("eval_ng"))).as("b"))
      .select(col("id"), (-col("b.nid")).as("eval_id"), col("b.shared").as("shared"),
        col("b.eval_ng").as("eval_ng"), col("b.ratio").as("ratio"))
  }

  /** (id, eval_id, shared, eval_ng) for every (doc, eval doc) pair
    * sharing at least one shingle: corpus shingles `shC` (id, g)
    * joined to eval shingles `shE` (eval_id, g, eval_ng) on the
    * shingle's xxhash64, counting exact matches only. */
  private def shingleMatches(shC: DataFrame, shE: DataFrame): DataFrame =
    shC.withColumn("gh", xxhash64(col("g")))
      .join(broadcast(shE.select(xxhash64(col("g")).as("gh"),
        col("g").as("eg"), col("eval_id"), col("eval_ng"))), Seq("gh"))
      .groupBy(col("id"), col("eval_id"))
      .agg(count(when(col("g") === col("eg"), 1)).as("shared"),
        min(col("eval_ng")).as("eval_ng"))
      .filter(col("shared") > 0L)

  /** Semantic (embedding-cosine) decontamination — the modern
    * complement to the n-gram check: a paraphrased eval document
    * shares no n-grams but sits next to it in embedding space. For
    * each corpus vector, the highest-cosine eval vector (ties to the
    * lowest eval id) and a flag at `flagAt`.
    *
    * Scale shape: the eval set broadcasts; the corpus side never
    * shuffles for scoring (codegen'd [[Similarity.dot]], norms
    * precomputed once per vector), and the per-doc argmax is a
    * plain aggregate — `max(struct(sim, -eval_id))` — so it
    * partial-aggregates map-side; there is NO window exchange
    * anywhere in the plan. */
  def semanticOverlap(
      corpusEmb: DataFrame, evalEmb: DataFrame,
      flagAt: Double = 0.9): DataFrame = {
    val e = Similarity.prepared(corpusEmb)
    val q = Similarity.prepared(evalEmb).select(
      col("vec_id").as("eval_id"), col("v").as("qv"), col("nrm").as("qn"))
    e.join(broadcast(q))
      .withColumn("sim",
        Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("eval_id")).as("neg"),
        col("eval_id"))).as("m"))
      .select(
        col("vec_id"),
        col("m.eval_id").as("eval_id"),
        col("m.sim").as("sim"),
        (col("m.sim") >= flagAt).cast("long").as("contaminated"))
  }
}
