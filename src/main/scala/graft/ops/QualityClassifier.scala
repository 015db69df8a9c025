package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.CacheScope.Scoped
import graft.functions.HashParity

/** fastText/CCNet-style SUPERVISED quality classifier: logistic
  * regression over hashed-unigram tf features, distinguishing a
  * trusted positive slice from the raw corpus — the classifier arm of
  * quality filtering (the perplexity gate is the LM arm,
  * [[Importance]] the importance-sampling arm; production pipelines
  * run exactly this trio).
  *
  * Training is distributed batch gradient descent with NO per-doc
  * state on the driver: documents are reduced once to sparse
  * per-doc bucket arrays (`bs`, `xs` — tf-normalized counts), cached;
  * each iteration evaluates margins IN-ROW against the current
  * weights (a literal array riding the plan — no join, no shuffle)
  * and reduces gradient contributions by bucket in one
  * map-side-combined aggregate of <= nBuckets+2 rows to the driver.
  * Iteration cost is one pass over the cached features, independent
  * of corpus width; nothing corpus-sized ever shuffles or collects.
  * Training is bit-deterministic under any partitioning: per-doc
  * feature arrays are sorted by bucket (fixing the margin fold's
  * order) and gradients accumulate as pico-unit longs (exactly
  * associative), so `weightsPpm` is a pure function of the data.
  *
  * Inference is exactly replayable integer arithmetic, the
  * post-training oracle contract of [[graft.QueryModule.trained]]:
  * trained weights round to ppm longs, a doc's decision multiplies the logistic
  * margin through by its token count —
  * `sum(c_b * w_ppm(b)) + bias_ppm * n_toks > 0` — so the oracle
  * replays the decision with the weight table inlined as literals
  * and never divides.
  */
object QualityClassifier {

  /** Trained model: ppm-rounded weights (index = bucket) + bias. */
  final case class Model(weightsPpm: Array[Long], biasPpm: Long) {
    def nBuckets: Int = weightsPpm.length
  }

  /** Slim per-doc sparse features: (id, y, bs, xs) with
    * `xs(i) = count(bucket bs(i)) / n_toks` — tf normalization keeps
    * long and short documents on one margin scale. The BIAS rides as
    * a pseudo-feature: bucket `-1` with x = 1 on every doc, so one
    * gradient aggregate covers weights and bias alike. */
  private def features(labeled: DataFrame, textCol: String,
      idCol: String, nBuckets: Int): DataFrame =
    graft.core.Par.widen(labeled)
      .select(col(idCol).as("id"), col("y"),
        explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .select(col("id"), col("y"),
        pmod(HashParity.h28(col("t")), lit(nBuckets.toLong)).as("b"))
      .groupBy(col("id"), col("y"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"), col("y"))
      .agg(sum(col("c")).as("n_toks"),
        // sorted by bucket: collect_list order is shuffle-arrival
        // order, and the float margin fold is not associative — an
        // unsorted array made weightsPpm run-dependent
        sort_array(collect_list(struct(col("b"), col("c")))).as("f"))
      .select(col("id"), col("y"),
        concat(array(lit(-1L)), expr("transform(f, p -> p.b)")).as("bs"),
        concat(array(lit(1.0d)),
          expr("transform(f, p -> CAST(p.c AS DOUBLE) / n_toks)")).as("xs"))

  /** Batch-GD logistic regression: `pos` vs `neg` (both carrying
    * `textCol` + `idCol`), `iters` full-batch steps at rate `lr`,
    * CLASS-BALANCED (each class contributes half the gradient mass
    * regardless of size — the trusted slice is always a sliver of
    * the corpus, and unweighted GD would just predict the majority).
    * Returns the ppm-rounded model. */
  def train(pos: DataFrame, neg: DataFrame, textCol: String,
      idCol: String, nBuckets: Int = 1024, iters: Int = 12,
      lr: Double = 2.0): Model = {
    val labeled = pos.select(col(textCol), col(idCol)).withColumn("y", lit(1.0d))
      .unionByName(
        neg.select(col(textCol), col(idCol)).withColumn("y", lit(0.0d)))
    val feats = features(labeled, textCol, idCol, nBuckets).scopedCache()
    val classCounts = feats.groupBy(col("y")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val nPos = classCounts.getOrElse(1.0d, 0L).toDouble
    val nNeg = classCounts.getOrElse(0.0d, 0L).toDouble
    require(nPos > 0 && nNeg > 0,
      s"quality classifier: both classes must be non-empty " +
        s"(pos=$nPos, neg=$nNeg)")
    val w = new Array[Double](nBuckets)
    var bias = 0.0d
    var it = 0
    while (it < iters) {
      // ONE ArrayType literal, not nBuckets individual lit() slots: the
      // per-iteration weights change, so every iteration re-analyzes
      // and re-codegens its plan — with 1024 Literal nodes that tree
      // work dominated the (tiny) gradient job 12 times over; a single
      // typedlit keeps the expression tree constant-size (element_at
      // semantics identical)
      val wl = typedLit(w.toIndexedSeq)
      val wOf = (b: Column) =>
        when(b < 0, lit(bias)).otherwise(element_at(wl, b.cast("int") + 1))
      // margin and residual evaluated IN-ROW against the literal
      // weights (no join, no shuffle); gradient contributions reduced
      // by bucket — <= nBuckets + 1 rows reach the driver
      val g = feats
        .withColumn("m",
          aggregate(
            zip_with(col("bs"), col("xs"),
              (b: Column, x: Column) => wOf(b) * x),
            lit(0.0d), (acc: Column, x: Column) => acc + x))
        .withColumn("r",
          (lit(1.0d) / (lit(1.0d) + exp(-col("m"))) - col("y")) *
            when(col("y") > 0.5d, lit(0.5d / nPos))
              .otherwise(lit(0.5d / nNeg)))
        .select(col("r"), explode(arrays_zip(col("bs"), col("xs"))).as("z"))
        .groupBy(col("z.bs").as("b"))
        // pico-unit fixed point: long addition is exactly associative,
        // so the per-bucket reduction is partition-order-independent
        // (a float sum here made borderline weights flip across runs);
        // |r*x| <= 0.5, so each term is <= 5e11 — no overflow risk
        .agg(sum(round(col("r") * col("z.xs") * lit(1e12)).cast("long"))
          .as("g"))
        .collect()
      g.foreach { row =>
        val b = row.getLong(0).toInt
        val step = lr * (row.getLong(1) / 1e12)
        if (b < 0) bias -= step else w(b) -= step
      }
      it += 1
    }
    Model(w.map(x => math.round(x * 1e6)), math.round(bias * 1e6))
  }

  /** Integer-ppm inference over a corpus: (id, n_toks, score, keep)
    * with `score = sum(c_b * w_ppm(b))` and
    * `keep = score + bias_ppm * n_toks > 0` (the logistic decision
    * multiplied through by the token count — no division). Null text
    * coalesces to '' (one empty-string token — the `split` semantics
    * every text operator here shares), so every corpus row scores and
    * no join-back is needed: the scoring pass is one broadcast weight
    * join + one per-doc aggregate, nothing corpus-sized beyond it. */
  def scoreReport(corpus: DataFrame, model: Model, textCol: String,
      idCol: String): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val wt = model.weightsPpm.toIndexedSeq.zipWithIndex
      .map { case (wp, b) => (b.toLong, wp) }.toDF("b", "wppm")
    graft.core.Par.widen(corpus)
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(coalesce(col(textCol), lit(""))))
          .as("t"))
      .select(col("id"),
        pmod(HashParity.h28(col("t")), lit(model.nBuckets.toLong)).as("b"))
      .join(broadcast(wt), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("wppm")).as("score"))
      .withColumn("keep",
        (col("score") + lit(model.biasPpm) * col("n_toks") > 0L).cast("long"))
  }
}
