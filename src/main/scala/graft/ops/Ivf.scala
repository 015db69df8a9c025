package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN: k-means coarse quantizer + probe-limited
  * exact search — the second scale path next to sign-LSH.
  *
  * Training is Lloyd's algorithm with the k x dims centroid matrix
  * (tiny) collected to the driver each iteration; assignments and
  * means stay fully distributed. Search scores a query only against
  * the `nProbe` nearest centroids' inverted lists — at corpus scale
  * the scan cost drops by ~nProbe/nClusters vs brute force.
  *
  * Centroids travel as a k-row broadcast TABLE ([[centroidFrame]]),
  * not as expression literals: embedding k arrays into every consuming
  * plan made codegen compile time scale with k (measured in round 1 —
  * see PLANS.md); a broadcast join is O(1) in plan size no matter how
  * large k grows.
  */
object Ivf {

  /** The trained model an [[ivfTopK]] call returns with its frame:
    * training is data-dependent, so the DuckDB replay SQL embeds the
    * trained centroids as literals (see [[graft.QueryModule.trained]]). */
  final case class Model(
      centroids: Array[Array[Double]], queryMaxId: Long,
      k: Int, nProbe: Int)

  /** Centroids as data: one row per cluster (j, c, half = |c|²/2). */
  def centroidFrame(s: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    centroids.zipWithIndex.toSeq
      .map { case (c, j) => (j, c.toSeq, c.map(x => x * x).sum / 2.0) }
      .toDF("j", "c", "half")
  }

  /** Cluster assignment via broadcast join + map-side-combined argmax:
    * each vector meets all k centroids inside its own partition (the
    * broadcast nested-loop join is map-side), and the partial
    * max(struct(s, j)) collapses the k candidate rows BEFORE the
    * exchange — the one shuffle carries a single row per vector, with
    * v/nrm riding along via first() so no join-back is needed. The
    * distance rank is v·c_j - |c_j|²/2 (monotone in euclidean distance
    * for fixed v); ties break to the larger j (struct order). */
  def assigned(prepared: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val cdf = centroidFrame(prepared.sparkSession, centroids)
    prepared.crossJoin(broadcast(cdf))
      .groupBy(col("vec_id"))
      .agg(
        max(struct((Similarity.dot(col("v"), col("c")) - col("half")).as("s"),
          col("j").as("j"))).getField("j").as("cluster"),
        first(col("v")).as("v"),
        first(col("nrm")).as("nrm"))
  }

  /** Deterministic init (first k vectors) + `iters` Lloyd steps.
    * `prepared` must be [[Similarity.prepared]] output (cached by the
    * caller when reused downstream). */
  def train(prepared: DataFrame, k: Int = 16, iters: Int = 3): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = prepared.orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iters) {
      val means = assigned(prepared, centroids)
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centroids = next
    }
    centroids
  }

  /** Probe-limited top-k: score queries only against vectors whose
    * cluster is among the query's `nProbe` closest centroids. Returns
    * the frame and the trained model. */
  def ivfTopK(
      emb: DataFrame, queryMaxId: Long, k: Int,
      nClusters: Int = 16, nProbe: Int = 4,
      iters: Int = 3): (DataFrame, Model) = {
    val base = Similarity.prepared(emb).cache() // shared by train + assign + probes
    val centroids = train(base, nClusters, iters)
    (probeTopK(assigned(base, centroids),
      base.filter(col("vec_id") < queryMaxId), centroids, k, nProbe),
      Model(centroids, queryMaxId, k, nProbe))
  }

  /** The probe/score/rank half, shared by [[ivfTopK]] and the
    * streaming index's standing-search
    * ([[graft.streaming.VectorIndexStream.searchStanding]]) — ONE
    * spelling of the probe tie-breaks and the rank window, so the
    * [[Model]]-literal oracle replay gates both callers. `index` is
    * an assigned frame (cluster, vec_id, v, nrm); `queriesPrepared`
    * a [[Similarity.prepared]] frame. */
  def probeTopK(index: DataFrame, queriesPrepared: DataFrame,
      centroids: Array[Array[Double]], k: Int, nProbe: Int): DataFrame = {
    val s = index.sparkSession
    // query -> its nProbe nearest clusters (small side, exploded)
    val probes = queriesPrepared
      .crossJoin(broadcast(centroidFrame(s, centroids)))
      .withColumn("s", Similarity.dot(col("v"), col("c")) - col("half"))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("s").desc, col("j"))))
      .filter(col("pr") <= nProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("j").as("cluster"))
    val scored = index.join(broadcast(probes), Seq("cluster"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim",
        Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .select(col("q_id"), col("vec_id"), col("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }
}
