package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.CacheScope.Scoped

/** SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
  * clustering the embedding space and removing near-duplicates
  * WITHIN each cluster — pairwise cosine comparison happens only
  * inside a cluster, so the all-pairs O(n²) the doc-level
  * embedding near-dup pays becomes O(sum of cluster sizes²), a
  * ~n/k-fold reduction at the cost of missing cross-cluster pairs
  * (the paper's accepted trade).
  *
  * Keep rule: within a cluster, a vector is a duplicate if some
  * LOWER-id vector sits within cosine `eps`; the lowest id of each
  * duplicate group survives. (The paper keeps the member farthest
  * from the centroid; the lowest-id rule is the deterministic greedy
  * variant — same clusters, same duplicate sets, an id-stable choice
  * of survivor that replays exactly in the oracle.)
  *
  * Scale shape: clustering reuses [[Ivf.train]] (Lloyd's with a
  * k-row driver matrix; assignments distributed) and [[Ivf.assigned]]
  * (broadcast centroid join + map-side argmax). The dedup pass is an
  * equi-join on `cluster` — at corpus scale `nClusters` should grow
  * ~sqrt(n) to keep per-cluster pair counts bounded; a skewed (giant)
  * cluster is the known failure mode: its self-join is O(size²) in
  * ONE key, beyond what AQE's skew-split can save (it splits the
  * probe side, not the pair count). [[report]] therefore audits
  * cluster sizes (an nClusters-row aggregate) and SUB-SPLITS any
  * cluster over `maxClusterSize` into `ceil(size/max)` cells by
  * `vec_id` modulus, logging loudly: pairs across cells of an
  * oversized cluster are missed — the same accepted trade the paper
  * makes for cross-cluster pairs, bought only when the alternative
  * is a quadratic blowup. The reported `cluster` column is unchanged;
  * only the join key gains the cell. [[report]] returns its trained
  * model with its frame so the DuckDB oracle can replay the
  * data-dependent assignment with the centroids as literals (see
  * [[graft.QueryModule.trained]]).
  */
object SemDedup {

  /** `oversized`: (cluster, size) of the clusters [[report]]
    * sub-split, empty when the guard never fired (and always empty
    * from [[oversizedAudit]], which reports them as data). */
  final case class Model(
      centroids: Array[Array[Double]], eps: Double, nClusters: Int,
      oversized: Seq[(Long, Long)] = Seq.empty)

  /** One row per vector: (vec_id, cluster, keep, dup_of, best_sim)
    * where `dup_of` is the LOWEST lower id within `eps` in the same
    * cluster (-1 when none — then keep=1) and `best_sim` the highest
    * such similarity (0.0 when none).
    *
    * Oversized-cluster repair: when the size guard sub-splits a
    * cluster, pairs ACROSS its cells are additionally recovered
    * through sign-LSH candidate generation — vectors of the same
    * cluster whose `repairBits`-bit sketches sit within Hamming
    * distance `repairProbe` are compared exactly (the multi-probe
    * construction [[Similarity.lshNearestNeighbor]] uses). Near-dups
    * at real `eps` (≥ ~0.9) collide in sketch space with high
    * probability, so the split's miss bound collapses to the LSH
    * residual instead of ALL cross-cell pairs; per-key fan-out stays
    * bounded by (cluster, bucket) occupancy. `repairBits = 0`
    * disables the repair — the pre-repair cells-only plan, the cheap
    * option when the corpus is known oversized-free. */
  def report(
      emb: DataFrame, eps: Double,
      nClusters: Int = 16, iters: Int = 3,
      maxClusterSize: Long = 1L << 16,
      repairBits: Int = 8, repairProbe: Int = 1): (DataFrame, Model) = {
    require(maxClusterSize > 0, "maxClusterSize must be positive")
    require(repairBits >= 0, "repairBits must be >= 0 (0 disables repair)")
    val base = Similarity.prepared(emb).scopedCache() // train + assign reuse
    val centroids = Ivf.train(base, nClusters, iters)
    val a0 = Ivf.assigned(base, centroids)
    // size audit: nClusters rows to the driver. Clusters over the cap
    // sub-split into ceil(size/cap) cells by vec_id modulus so the
    // pairwise self-join below stays O(cap²) per join key.
    val sizes = a0.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Number]("cluster").longValue(), r.getLong(1)))
    val oversized = sizes.filter(_._2 > maxClusterSize).sortBy(_._1)
    if (oversized.nonEmpty) System.err.println(
      s"[semdedup] WARNING: ${oversized.size} cluster(s) exceed " +
        s"maxClusterSize=$maxClusterSize and are sub-split for the " +
        s"pair join (cross-cell pairs inside them go through the " +
        (if (repairBits > 0) s"$repairBits-bit/r=$repairProbe LSH repair)"
         else "repair, which is DISABLED — they are missed)") + ": " +
        oversized.map { case (c, n) => s"$c=$n" }.mkString(", ") +
        " — raise nClusters to shrink clusters instead")
    // cell assignment via a broadcast equi-join on the (tiny)
    // oversized list — NOT a per-cluster when() chain, whose
    // expression tree would deepen linearly with the number of
    // oversized clusters and blow up analysis/codegen when many
    // clusters exceed the cap (small nClusters at corpus scale)
    val a1 =
      if (oversized.isEmpty)
        a0.withColumn("cell", lit(0L)).withColumn("n_cells", lit(1L))
      else {
        val sp = emb.sparkSession
        import sp.implicits._
        val cells = oversized.toSeq.map { case (c, n) =>
          (c, (n + maxClusterSize - 1) / maxClusterSize) }
          .toDF("o_cluster", "n_cells")
        a0.join(broadcast(cells), col("cluster") === col("o_cluster"), "left")
          .withColumn("n_cells", coalesce(col("n_cells"), lit(1L)))
          .withColumn("cell", pmod(col("vec_id"), col("n_cells")))
          .drop("o_cluster")
      }
    val a = a1.scopedCache() // both sides of the self-join
    val lower = a.select(col("cluster"), col("cell"),
      col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))
    val within = a.join(lower, Seq("cluster", "cell"))
      .filter(col("b_id") < col("vec_id"))
      .withColumn("sim",
        Similarity.dot(col("v"), col("bv")) / (col("nrm") * col("bn")))
      .filter(col("sim") >= eps)
      .select(col("vec_id"), col("b_id"), col("sim"))
    val pairs =
      if (oversized.isEmpty || repairBits == 0) within
      else within.unionByName(
        crossCellPairs(a, eps, repairBits, repairProbe))
    val dups = pairs
      .groupBy(col("vec_id"))
      .agg(min(col("b_id")).as("dup_of"), max(col("sim")).as("best_sim"))
    (a.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull.cast("long"))
      .na.fill(-1L, Seq("dup_of"))
      .na.fill(0.0, Seq("best_sim")),
      Model(centroids, eps, nClusters, oversized.toSeq))
  }

  /** Cross-cell duplicate pairs inside OVERSIZED clusters (rows with
    * `n_cells > 1` in an assignment frame carrying v/nrm/cell):
    * candidates are same-cluster vectors whose sign sketches sit
    * within Hamming `repairProbe` (probe side explodes over the XOR
    * masks, exactly the [[Similarity.lshNearestNeighbor]] shape —
    * each qualifying (lower, higher) pair is generated once, since a
    * candidate's own bucket matches exactly one probe mask), verified
    * with exact cosine. Returns (vec_id, b_id, sim) with b_id <
    * vec_id, different cells only (same-cell pairs are the exact
    * join's job). */
  private def crossCellPairs(
      a: DataFrame, eps: Double,
      repairBits: Int, repairProbe: Int): DataFrame = {
    val masks = Similarity.probeMasks(repairBits, repairProbe)
    val ov = a.filter(col("n_cells") > 1L)
      .withColumn("bucket", Similarity.lshBucket(col("v"), repairBits))
    val probe = ov.select(col("cluster"), col("cell"), col("vec_id"),
        col("v"), col("nrm"), col("bucket").as("qbucket"))
      .withColumn("bucket",
        explode(array(masks.map(m => col("qbucket").bitwiseXOR(lit(m))): _*)))
      .drop("qbucket")
    val cand = ov.select(col("cluster"), col("bucket"),
      col("cell").as("b_cell"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    cand.join(probe, Seq("cluster", "bucket"))
      .filter(col("b_id") < col("vec_id") && col("b_cell") =!= col("cell"))
      .withColumn("sim",
        Similarity.dot(col("v"), col("bv")) / (col("nrm") * col("bn")))
      .filter(col("sim") >= eps)
      .select(col("vec_id"), col("b_id"), col("sim"))
  }

  /** Query-shaped audit of the sub-split trade AND its repair: one
    * row per cluster over `maxClusterSize` with its size, the cell
    * count the pair join uses, an EXACT upper bound on the
    * cross-cell pairs the split ALONE would drop, and the number of
    * those pairs the LSH repair actually RECOVERS (verified
    * cross-cell duplicates at `eps` — the pairs that are no longer
    * missed). The bound is the convexity extreme: within-cell pair
    * count `Σ C(sᵢ,2)` is minimized — so exposed pairs are maximized
    * — when the cells are balanced (`r` cells of `q+1`, the rest
    * `q`, for `q = size div n_cells`, `r = size mod n_cells`);
    * whatever sizes `pmod(vec_id, n_cells)` actually produces can
    * only expose fewer. Same training as [[report]] (with
    * [[report]]'s parameters both return the same centroids) — both
    * the trade and the repair stay observable IN DATA, not just in a
    * stderr warning. */
  def oversizedAudit(
      emb: DataFrame, eps: Double,
      nClusters: Int = 16, iters: Int = 3,
      maxClusterSize: Long = 1L << 16,
      repairBits: Int = 8, repairProbe: Int = 1): (DataFrame, Model) = {
    require(maxClusterSize > 0, "maxClusterSize must be positive")
    require(repairBits >= 0, "repairBits must be >= 0 (0 disables repair)")
    val base = Similarity.prepared(emb).scopedCache()
    val centroids = Ivf.train(base, nClusters, iters)
    val cap = maxClusterSize
    val a0 = Ivf.assigned(base, centroids).scopedCache()
    val exposure = a0
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("size"))
      .filter(col("size") > cap)
      .withColumn("n_cells", expr(s"(size + $cap - 1) DIV $cap"))
      .withColumn("q", expr("size DIV n_cells"))
      .withColumn("r", expr("size % n_cells"))
      .withColumn("pairs_exposed_max", expr(
        "size * (size - 1) DIV 2 - " +
          "(r * (q + 1) * q DIV 2 + (n_cells - r) * q * (q - 1) DIV 2)"))
      .drop("q", "r")
    // the repair's recovered pairs, per oversized cluster: same
    // sketch/probe/verify chain the report runs, counted
    val recovered =
      if (repairBits == 0) exposure.limit(0)
        .select(col("cluster"), lit(0L).as("recovered_pairs"))
      else {
        val expSlim = exposure
          .select(col("cluster").as("o_cluster"), col("n_cells"))
        val withCells = a0
          .join(broadcast(expSlim),
            col("cluster").cast("long") === col("o_cluster"))
          .drop("o_cluster")
          .withColumn("cell", pmod(col("vec_id"), col("n_cells")))
        crossCellPairs(withCells, eps, repairBits, repairProbe)
          .join(withCells.select(col("vec_id"), col("cluster")), Seq("vec_id"))
          .groupBy(col("cluster").cast("long").as("cluster"))
          .agg(count(lit(1)).as("recovered_pairs"))
      }
    (exposure.join(recovered, Seq("cluster"), "left")
      .na.fill(0L, Seq("recovered_pairs"))
      .orderBy(col("cluster")),
      Model(centroids, eps, nClusters))
  }
}
