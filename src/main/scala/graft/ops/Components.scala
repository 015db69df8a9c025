package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Connected components over a candidate-pair edge list — the cluster
  * resolution step of a dedup pipeline. Candidate generators
  * ([[Dedup.minhashCandidates]], [[Dedup.jaccardPairs]],
  * [[Similarity.lshNearestNeighbor]]) emit PAIRS; production dedup
  * needs per-document cluster ids (keep one canonical doc per
  * component, drop the rest).
  *
  * Two paths, one answer (every node labeled with the min id of its
  * component), chosen by the size of the edge set:
  *
  *  - Bounded edge set (at most `DriverEdges` edges, 16 B each as a
  *    (long, long) pair, so at most ~16 MB of payload): one
  *    `limit(DriverEdges + 1)` collect brings the edges to the driver,
  *    a local union-find labels their endpoints, and the labels come
  *    back as a broadcast `LocalRelation` left-joined to `nodes`, so
  *    isolated nodes label themselves. `nodes` is corpus-sized and is
  *    never collected. Near-dup edge sets are a small fraction of the
  *    corpus (verified pairs, not all pairs), so this is the path a
  *    dedup chain takes: ≤ 4 jobs, where the distributed loop spends
  *    two per batch of rounds plus its setup.
  *  - Larger edge set: iterative min-label propagation
  *    ([[distributedComponents]]), which never holds the graph in one
  *    place. It stays because the library's posture is a corpus of
  *    100 TB, whose edge set may not fit a driver: each round is two
  *    bounded shuffles over slim (long, long) rows, and a
  *    pointer-jumping step per batch makes even long-path components
  *    converge in O(log diameter) batches.
  *
  * The edge plan (candidates plus verification, in a dedup chain) is
  * evaluated once on either path: the deciding collect reads a cache
  * of the edge pairs, and the distributed loop builds on that cache.
  */
object Components {

  /** Edge-count bound of the driver path: 1,000,000 (long, long) edges
    * × 16 B ≈ 16 MB collected to the driver, the most any call brings
    * there (the deciding collect stops at one edge past it). */
  private val DriverEdges = 1000000

  private val LongPair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** One propagation round, declaratively: every node's label becomes
    * the min of its own and its neighbors' labels. Extra columns on
    * `cur` (e.g. the batch-start label) ride through untouched.
    *
    * "Min of own and neighbors'" is ONE aggregate over the union of
    * own rows and neighbor contributions — the earlier
    * aggregate-then-left-join spelling shuffled the label table a
    * second time (by id for the join) after the neighbor aggregate
    * had already exchanged by id; the union form groups both row
    * kinds in that single exchange (guide §2.4: operations keyed the
    * same way share one shuffle). Extra columns ride as null on the
    * neighbor rows and fold back with a null-skipping min — they are
    * functionally dependent on id, so the min IS the own-row value. */
  private def propagateOnce(sym: DataFrame, cur: DataFrame): DataFrame = {
    val extra = cur.schema.filterNot(f => f.name == "id" || f.name == "lbl")
    val nbrRows = extra.foldLeft(
      sym.join(cur.select(col("id").as("nbr"), col("lbl").as("nlbl")),
          Seq("nbr"))
        .select(col("id"), col("nlbl").as("lbl"))) {
      (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    cur.unionByName(nbrRows)
      .groupBy(col("id"))
      .agg(min(col("lbl")).as("lbl"),
        extra.map(f => min(col(f.name)).as(f.name)): _*)
  }

  /** One pointer-jumping round: every node's label becomes the min of
    * its label and its LABEL's label (labels are node ids, so the
    * label table joins against itself). Jumping doubles the reach a
    * propagation chain has already established, so a batch of
    * propagations + one jump converges in O(log diameter) batches
    * instead of O(diameter) — near-dup cliques never notice (they
    * converge in 1-2 batches either way), but a long-path component
    * at 100 TB does. One extra slim equi-join per batch. */
  private def pointerJumpOnce(cur: DataFrame): DataFrame = {
    val parent = cur.select(col("lbl").as("jlbl"), col("id").as("lbl"))
    cur.join(parent, Seq("lbl"), "left")
      .withColumn("lbl", least(col("lbl"), coalesce(col("jlbl"), col("lbl"))))
      .drop("jlbl")
  }

  /** Per-node component labels for `nodes` (single column `id`, long,
    * distinct) under `edges` (`id1`, `id2`, undirected; endpoints must
    * be drawn from `nodes` — every caller derives pairs from the same
    * id set it labels). Output: (id, cluster_id) where cluster_id =
    * min node id reachable from id.
    *
    * One bounded action decides the path: at most `DriverEdges`
    * edges are labeled on the driver ([[driverComponents]]); more run
    * the distributed loop, where `maxIters` and `roundsPerCheck` apply
    * ([[distributedComponents]]). The edge pairs are cached for the
    * decision and released before this returns, so the edge plan runs
    * once on either path.
    */
  def connectedComponents(
      nodes: DataFrame, edges: DataFrame, maxIters: Int = 25,
      roundsPerCheck: Int = 2): DataFrame = {
    val pairs = edges.select(col("id1"), col("id2")).cache()
    try {
      val head = pairs.limit(DriverEdges + 1).as(LongPair).collect()
      if (head.length <= DriverEdges) driverComponents(nodes, head)
      else distributedComponents(nodes, pairs, maxIters, roundsPerCheck)
    } finally pairs.unpersist(blocking = false)
  }

  /** Labels for a bounded edge set, computed on the driver: the
    * endpoints' labels ([[endpointLabels]]) handed back as a
    * `LocalRelation` broadcast on its long `id` key — a
    * `LongHashedRelation`, at most 2 × `DriverEdges` rows — and
    * left-joined to `nodes`, so a node on no edge labels itself. */
  private def driverComponents(
      nodes: DataFrame, edges: Array[(Long, Long)]): DataFrame = {
    val lbl = nodes.sparkSession.createDataset(endpointLabels(edges))(LongPair)
      .toDF("id", "lbl")
    nodes.select(col("id")).join(broadcast(lbl), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** (id, min id of its component) for every endpoint of `edges`, by
    * union-find over dense indices into the sorted distinct ids: the
    * min index of a component is its min id, and every union keeps the
    * smaller root. `find` is iterative with path compression, so a
    * 10⁶-long chain cannot overflow the stack. */
  private[graft] def endpointLabels(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val ids = new Array[Long](2 * edges.length)
    var i = 0
    while (i < edges.length) {
      ids(2 * i) = edges(i)._1
      ids(2 * i + 1) = edges(i)._2
      i += 1
    }
    java.util.Arrays.sort(ids)
    var n = 0
    i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) {
        val next = parent(cur)
        parent(cur) = root
        cur = next
      }
      root
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(index(a)), find(index(b)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (0 until n).map(k => (ids(k), ids(find(k))))
  }

  /** Labels by distributed min-label propagation, for edge sets past
    * the driver bound.
    *
    * Algorithm: every node starts labeled with its own id; each round
    * a node takes the min of its label and its neighbors' labels;
    * fixpoint = every node carries the min id of its component.
    * Near-dup graphs are dense cliques with tiny diameter, so 2-4
    * rounds is typical; a pointer-jumping step per batch doubles the
    * established reach, so even long-path components converge in
    * O(log diameter) batches. `localCheckpoint()` truncates the
    * lineage at each batch of rounds so the plan does not grow with
    * iterations (the classic iterative-DataFrame trap), and the
    * convergence test reads the already-materialized checkpoint,
    * costing one cheap count per batch.
    *
    * Rounds run in BATCHES of `roundsPerCheck` between actions: each
    * batch is one materialization job (the chained declarative rounds)
    * plus one cheap count over the materialized result — sequential
    * tiny jobs, not data volume, dominate this loop's cost, so halving
    * the action count roughly halves the wall clock. Convergence is
    * detected by carrying the label as of the LAST round's entry
    * (`lblp`) through the chain — labels only decrease, so
    * final-round-and-jump-changed-nothing is exactly "that application
    * was a no-op", i.e. the propagation fixpoint: the batch that
    * converges also detects it, with no confirmation batch after.
    * Throws if the labels still move after `maxIters` rounds.
    */
  private[graft] def distributedComponents(
      nodes: DataFrame, edges: DataFrame, maxIters: Int = 25,
      roundsPerCheck: Int = 2): DataFrame = {
    // one pass over the edge list (a union of two selects would scan
    // the — possibly expensive — candidate plan twice on first use);
    // cached PARTITIONED BY nbr — every round's propagation joins on
    // nbr, so one exchange at build time carries all rounds instead of
    // re-shuffling the edge list per round (the PageRank move)
    val sym = edges.select(explode(array(
        struct(col("id1").as("id"), col("id2").as("nbr")),
        struct(col("id2").as("id"), col("id1").as("nbr")))).as("e"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr"))
      .repartition(col("nbr"))
      .cache()
    var labels = nodes.select(col("id"), col("id").as("lbl")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val rounds = math.min(roundsPerCheck, maxIters - iter)
      var cur = labels
      for (i <- 0 until rounds) {
        if (i == rounds - 1) cur = cur.withColumn("lblp", col("lbl"))
        cur = propagateOnce(sym, cur)
      }
      cur = pointerJumpOnce(cur)
      val next = cur
        .withColumn("chg", col("lbl") =!= col("lblp"))
        .select(col("id"), col("lbl"), col("chg"))
        .localCheckpoint()
      changed = next.filter(col("chg")).count()
      labels = next.select(col("id"), col("lbl"))
      iter += rounds
    }
    sym.unpersist()
    // wrong-loud beats wrong-silent: a non-converged exit would hand
    // the dedup filter partial clusters (docs kept that should drop)
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters rounds " +
        s"($changed labels still moving); raise maxIters — with pointer " +
        "jumping the reachable diameter doubles per batch, so a few " +
        "extra rounds cover any practical graph")
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Labels -> per-node cluster assignment with component size (the
    * shape a dedup filter consumes: keep id == cluster_id, or keep
    * cluster_size == 1 plus one canonical per larger cluster). */
  def withClusterSizes(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("cluster_size"))
  }
}
