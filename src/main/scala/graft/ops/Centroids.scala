package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.CacheScope.Scoped
import graft.core.Par
import graft.ops.Similarity.dot

/** Nearest-centroid label audit over an embedding column — the
  * label-quality read a curation pipeline runs before trusting a
  * labeled slice (mislabeled or inseparable classes show up as
  * off-diagonal mass in the confusion matrix).
  *
  * Everything is exactly replayable integer arithmetic:
  *  - vectors quantize to integer thousandths (`round(x*1000)` — the
  *    same round-then-cast contract as [[graft.core.Num.cents]]);
  *  - per-label centroids are integer sums + a rounded division,
  *    computed through a positivity shift so truncating integer
  *    division agrees across engines regardless of sign;
  *  - squared Euclidean distances to the quantized centroids are
  *    exact in double arithmetic (all terms far below 2^53), computed
  *    with the codegen'd [[graft.functions.VectorExprs.dot]] loop via
  *    `d2 = |v|^2 + |c|^2 - 2<v,c>` — no interpreted lambda fold in
  *    the hot path.
  *
  * Scale shape: the centroid build is one posexplode + hash aggregate
  * (map-side combine reduces each partition to <= labels x dims
  * rows); the centroid table itself is bounded (labels x dims) and
  * rides the scoring pass as a BROADCAST cross join — the corpus
  * never shuffles. The scoring pass emits (vec, label) distances and
  * reduces them in the same aggregation; the confusion matrix is
  * bounded by labels^2.
  */
object Centroids {

  /** Quantization: integer thousandths keep every later term exact. */
  val Scale = 1000L

  /** Positivity shift for the rounded centroid division; valid while
    * `|x| * Scale < Off` for every embedding element. */
  val Off = 1000000000L

  private def quantize(vecCol: Column): Column =
    transform(vecCol, x =>
      round(x.cast("double") * Scale, 0).cast("long"))

  /** Vectors as quantized integer-thousandth arrays:
    * (vec_id, label, v). */
  def quantized(emb: DataFrame, vecCol: String = "embedding",
      labelCol: String = "label", idCol: String = "vec_id"): DataFrame =
    emb.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("label"),
      quantize(col(vecCol)).as("v"))

  /** Per-label quantized centroids: label, n_vecs, cv (the
    * component-wise rounded mean, still in integer thousandths).
    * Row count is bounded by |labels|. */
  def labelCentroids(vq: DataFrame): DataFrame = {
    val sums = vq
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    // round-half-up(s / n) via a shift into positive territory so
    // truncating DIV has one cross-engine meaning
    val c = sums.withColumn("c",
      expr(s"(2 * (s + $Off * n) + n) DIV (2 * n) - $Off"))
    c.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          p => p.getField("c")).as("cv"))
  }

  /** Confusion matrix of nearest-centroid assignment vs the stored
    * label: (label, assigned, n, share_ppm of the true label's
    * vectors). Ties in distance resolve to the smaller centroid
    * label. */
  def confusionReport(emb: DataFrame, vecCol: String = "embedding",
      labelCol: String = "label", idCol: String = "vec_id"): DataFrame = {
    val vq = quantized(emb, vecCol, labelCol, idCol).scopedCache()
    val cent = labelCentroids(vq)
      .select(col("label").as("c_label"),
        col("cv").cast("array<double>").as("cv"),
        dot(col("cv").cast("array<double>"),
          col("cv").cast("array<double>")).as("c2"))
    val scored = Par.widen(vq)
      .withColumn("vd", col("v").cast("array<double>"))
      .withColumn("v2", dot(col("vd"), col("vd")))
      .crossJoin(broadcast(cent))
      .withColumn("d2",
        (col("v2") + col("c2") - lit(2d) * dot(col("vd"), col("cv")))
          .cast("long"))
    val assigned = scored
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("d2"), col("c_label"))).as("best"))
      .select(col("label"), col("best.c_label").as("assigned"))
    val counts = assigned.groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("label"))
      .agg(sum(col("n")).as("label_total"))
    counts.join(broadcast(totals), Seq("label"))
      .withColumn("share_ppm",
        expr("n * 1000000 DIV label_total"))
      .select(col("label"), col("assigned"), col("n"), col("share_ppm"))
  }
}
