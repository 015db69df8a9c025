package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs.dotFast
import graft.core.CacheScope.Scoped

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the correctness baseline; sign-LSH
  * bucketing is the scale path (candidates meet only inside a
  * bucket — an equi-join — instead of all-pairs).
  *
  * Performance notes (measured at sf0.1):
  *  - dot products use the codegen'd [[graft.functions.VectorExprs.dot]]
  *    expression (one primitive loop per pair) — the `zip_with` +
  *    `aggregate` composition interprets lambdas over boxed doubles
  *    and was ~40x slower at 4M pairs;
  *  - the ranking shuffle carries only (q_id, vec_id, sim) — vectors
  *    are projected away *before* the window exchange (512 B/row of
  *    embedding payload otherwise rides the sort);
  *  - single-file local scans are repartitioned so the candidate
  *    scoring parallelizes (a cluster read of many splits gets this
  *    for free).
  */
object Similarity {

  /** Sequential left-fold dot product — bit-identical to the oracle's
    * index-order accumulation. */
  def dot(a: Column, b: Column): Column = dotFast(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Embeddings with the vector cast to double (exact widening), the
    * norm precomputed once per vector, and partitions spread for
    * parallel scoring. */
  def prepared(emb: DataFrame): DataFrame =
    graft.core.Par.widen(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .withColumn("nrm", norm(col("v")))

  private[ops] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .select(col("q_id"), col("vec_id"), col("sim")) // slim before exchange
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Brute-force cosine top-k: broadcast the (small) query set against
    * all vectors, rank per query. The scan side never shuffles; cost
    * is one pass over the corpus per batch of queries. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val e = prepared(emb)
    val q = prepared(queries).select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    rankTopK(scored, k)
  }

  /** Deterministic ±1 hyperplane matrix — sign = low bit of the
    * md5-parity hash of "p<plane>-<dim>" ([[graft.functions.HashParity]]),
    * materialized driver-side and shipped as literals: the per-row work
    * is `nBits` codegen'd dot products, and the very same matrix can be
    * re-embedded as literals in a DuckDB oracle ([[planesLiteral]]). */
  private[graft] def planes(nBits: Int, dims: Int,
      offset: Int = 0): Seq[Array[Double]] =
    (offset until offset + nBits).map { j =>
      Array.tabulate(dims) { i =>
        if ((graft.functions.HashParity.h28(s"p$j-$i") & 1L) == 1L) 1.0 else -1.0
      }
    }

  /** The hyperplane matrix as SQL DOUBLE[] literals, one per plane —
    * for oracle generation. `offset` selects an independent plane
    * block (multi-table LSH: table t uses offset t * nBits). */
  def planesLiteral(nBits: Int, dims: Int, offset: Int = 0): Seq[String] =
    planes(nBits, dims, offset).map(_.mkString("[", ",", "]::DOUBLE[]"))

  /** Sign-LSH bucket id: `nBits` hyperplane sign bits packed into a
    * long. Random-hyperplane LSH preserves cosine locality. `offset`
    * selects an independent plane block per hash table. */
  def lshBucket(v: Column, nBits: Int = 12, dims: Int = 64,
      offset: Int = 0): Column =
    planes(nBits, dims, offset).zipWithIndex.map { case (p, j) =>
      val plane = array(p.toIndexedSeq.map(lit): _*)
      when(dot(v, plane) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** Bucketed ANN: rank candidates within each query's bucket only —
    * [[lshTopKMultiProbe]] at radius 0 (one implementation; the spec
    * pins the equality). Recall < 1 by construction; bit depth and
    * probe radius are the tuning knobs. */
  def lshTopK(emb: DataFrame, queryMaxId: Long, k: Int, nBits: Int = 12): DataFrame =
    lshTopKMultiProbe(emb, queryMaxId, k, nBits, probeHamming = 0)

  /** MULTI-PROBE bucketed ANN: each query probes its own bucket plus
    * every bucket within Hamming distance `probeHamming` of it in
    * sign-bit space — the standard recall repair for single-probe
    * sign-LSH, whose recall collapses when true neighbors fall just
    * across one hyperplane (measured in PLANS.md's round-8 frontier:
    * 0.13 at 4 bits single-probe on the sf0.1 corpus). Probing all
    * 1 + nBits (+ C(nBits,2) at radius 2) neighboring buckets
    * multiplies only the BROADCAST query side — the corpus side still
    * joins once per (bucket, query-probe) candidate, so the scale
    * shape is unchanged: equi-join on a bounded key, no corpus
    * blow-up. Radius <= 2 supported (higher radii approach
    * brute-force cost without its simplicity). */
  def lshTopKMultiProbe(emb: DataFrame, queryMaxId: Long, k: Int,
      nBits: Int = 12, probeHamming: Int = 1): DataFrame = {
    val masks = probeMasks(nBits, probeHamming)
    val e = prepared(emb).withColumn("bucket", lshBucket(col("v"), nBits))
    val q = e.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
      .withColumn("bucket",
        explode(array(masks.map(m => col("qbucket").bitwiseXOR(m)): _*)))
      .drop("qbucket")
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    rankTopK(scored, k)
  }

  /** MULTI-TABLE sign-LSH ANN: `nTables` INDEPENDENT hyperplane sets
    * (plane blocks offset t * nBits of the same md5-parity matrix, so
    * the oracle re-derives every table); each vector indexes one
    * bucket PER table, candidates are the union over tables of
    * same-(table, bucket) vectors, deduplicated, ranked once. The
    * OTHER classic recall lever: [[lshTopKMultiProbe]] widens one
    * table's neighborhood by bit flips, fresh tables REDRAW the
    * hyperplanes — a neighbor split from the query by any plane of
    * table 0 gets an independent chance per extra table. The honest
    * cost is corpus-side: each vector appears `nTables` times in the
    * index (the same multiplicity the banded MinHash/SimHash families
    * pay), still an equi-join on a bounded key. */
  def lshTopKMultiTable(emb: DataFrame, queryMaxId: Long, k: Int,
      nBits: Int = 8, nTables: Int = 4): DataFrame = {
    require(nTables >= 1, "nTables must be >= 1")
    val e = prepared(emb)
    val tb = explode(array((0 until nTables).map(t =>
      struct(lit(t).as("t"),
        lshBucket(col("v"), nBits, offset = t * nBits).as("bucket"))): _*))
    val indexed = e.select(col("vec_id"), col("v"), col("nrm"), tb.as("tb"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val q = indexed.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("t"), col("bucket"))
    val scored = indexed.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      // score BEFORE deduplicating: the dedup exchange then carries
      // (q_id, vec_id, sim) instead of ~1 KB of vector payload per
      // candidate row (the module's slim-before-exchange rule); a
      // pair found in several tables scores identically in each, so
      // the extra dot products are bounded by nTables - 1 per pair
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("q_id"), col("vec_id"), col("sim"))
      .dropDuplicates("q_id", "vec_id")
    rankTopK(scored, k)
  }

  /** XOR masks for every bucket within Hamming distance
    * `probeHamming`; the identity mask first. */
  private[graft] def probeMasks(nBits: Int, probeHamming: Int): Seq[Long] = {
    require(probeHamming >= 0 && probeHamming <= 2,
      "probeHamming must be 0, 1, or 2")
    Seq(0L) ++
      (if (probeHamming >= 1) (0 until nBits).map(1L << _) else Seq.empty) ++
      (if (probeHamming >= 2)
        for (i <- 0 until nBits; j <- i + 1 until nBits)
          yield (1L << i) | (1L << j)
      else Seq.empty)
  }

  /** DuckDB spelling of [[probeMasks]] — keep in lock-step. */
  def probeMasksSql(nBits: Int, probeHamming: Int): String =
    probeMasks(nBits, probeHamming).mkString("[", ",", "]")

  /** DuckDB spelling of [[lshBucket]] over a vector column `v` —
    * keep in lock-step (the one place the sign-bucket SQL lives;
    * every LSH oracle composes this). */
  def bucketSql(nBits: Int, offset: Int = 0): String =
    planesLiteral(nBits, dims = 64, offset).zipWithIndex
      .map { case (p, j) =>
        s"(CASE WHEN list_dot_product(v, $p) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")

  /** Bucketed near-duplicate top-1: nearest neighbor within each
    * vector's sign-LSH bucket — the 100 TB shape of
    * [[nearestNeighbor]]. The self-join is an equi-join on bucket id
    * (shuffle on a bounded key domain; hot buckets would be salted at
    * cluster scale), so pair fan-out is Σ bucket² instead of n².
    * Vectors alone in their bucket have no candidate and drop out —
    * the standard recall trade, asserted against brute force in specs
    * and replayed exactly by the DuckDB oracle. */
  def lshNearestNeighbor(emb: DataFrame, nBits: Int = 8,
      probeHamming: Int = 0): DataFrame = {
    val masks = probeMasks(nBits, probeHamming)
    // bucket assignment feeds both join sides — cache, don't recompute
    val e = prepared(emb)
      .withColumn("bucket", lshBucket(col("v"), nBits)).scopedCache()
    // the probe side explodes over the XOR masks: unlike the top-k
    // path there is no small query side here — every vector probes —
    // so radius r multiplies ONE side of the self-join by |masks|
    // (the same multiplicity banding pays), buying back the
    // across-one-hyperplane near-dups the single bucket misses. No
    // dedup is needed: a query's probed buckets are pairwise distinct
    // and each candidate sits in exactly one true bucket, so no
    // (query, candidate) pair can be generated twice.
    val a = e.select(col("bucket").as("qbucket"), col("vec_id").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("bucket",
        explode(array(masks.map(m => col("qbucket").bitwiseXOR(m)): _*)))
      .drop("qbucket")
    val scored = e.join(a, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    // top-1 as an argmax AGGREGATE — max(struct(sim, -vec_id)) is the
    // old window's (sim DESC, vec_id ASC) order — so it
    // partial-combines map-side: each task ships one candidate per
    // query instead of exchanging and sorting every scored bucket
    // pair (same move [[nearestNeighbor]] documents)
    scored
      .select(col("q_id"), col("vec_id"), col("sim")) // slim before exchange
      .groupBy(col("q_id"))
      .agg(max(struct(col("sim"), (-col("vec_id")).as("nid"))).as("b"))
      .select(col("q_id").as("vec_id"), (-col("b.nid")).as("nn_id"),
        col("b.sim").as("sim"))
      .orderBy(col("vec_id"))
  }

  /** Nearest neighbor (top-1) for every vector — the embedding-cosine
    * near-duplicate detector. Brute force here; [[lshNearestNeighbor]]
    * is the 100 TB path. The top-1 reduces as `max(struct(sim,
    * -nn_id))` instead of a `row_number` window: an aggregate gets
    * MAP-SIDE PARTIAL COMBINE, so each task ships one candidate per
    * query key instead of exchanging and sorting all n² scored pairs
    * (the struct's second field makes ties pick the smallest
    * neighbor id, the window's exact order). */
  def nearestNeighbor(emb: DataFrame): DataFrame = {
    // A join shape materializes a 2×64-double row per PAIR (the n²
    // hot path is row construction, not arithmetic — measured 3×
    // the kernel below); instead broadcast the corpus once — the
    // same bytes a broadcast join ships — and scan each partition's
    // rows against it with primitive-array loops. The driver
    // materialization is the broadcast build side, O(corpus), which
    // brute force already implies; LSH/IVF are the shapes that
    // don't. Arithmetic matches the declarative form exactly:
    // ascending-index dot, then one division by the norm product.
    val s = emb.sparkSession
    import s.implicits._
    val e = prepared(emb).select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
    val corpus = s.sparkContext.broadcast(e.collect())
    e.mapPartitions { it =>
      val cs = corpus.value
      it.map { case (qid, qv, qn) =>
        var bestSim = Double.NegativeInfinity
        var bestId = Long.MaxValue
        var i = 0
        while (i < cs.length) {
          val (cid, cv, cn) = cs(i)
          if (cid != qid) {
            var d = 0.0
            var j = 0
            while (j < qv.length) { d += qv(j) * cv(j); j += 1 }
            val sim = d / (qn * cn)
            if (sim > bestSim || (sim == bestSim && cid < bestId)) {
              bestSim = sim; bestId = cid
            }
          }
          i += 1
        }
        (qid, bestId, bestSim)
      }
    }.toDF("vec_id", "nn_id", "sim").orderBy(col("vec_id"))
  }
}
