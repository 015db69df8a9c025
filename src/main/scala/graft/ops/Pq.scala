package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CacheScope.Scoped

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): the COMPRESSED-index ANN
  * path next to sign-LSH (q_ann_lsh) and IVF (q_ann_ivf).
  *
  * The vector space is split into `m` contiguous subspaces; each
  * subspace gets its own `ksub`-centroid codebook (Lloyd's), and a
  * corpus vector is stored as `m` small code ids — at 100 TB the
  * index is m bytes/vector instead of 4·dims, the difference between
  * an in-memory index and one that spills. Queries score candidates
  * with ADC (asymmetric distance computation): the query precomputes
  * a (sub, code) → partial-dot lookup table against the codebooks
  * and a candidate's approximate dot product is the sum of its m
  * table entries — m adds per pair instead of a dims-long multiply.
  *
  * Scale shape: training runs ALL subspaces inside one distributed
  * aggregate per Lloyd iteration (the codebooks — m·ksub rows —
  * are the only driver-side matrix); encoding is a broadcast
  * codebook join + map-side argmax per (vector, subspace); search
  * joins the corpus code rows against the BROADCAST query LUT on
  * (sub, code) and map-side-combines the m partials before the one
  * (q_id, vec_id) exchange. Exhaustive ADC still touches every code
  * row once per query batch — the candidate-pruning complement is
  * the IVF coarse stage ([[ivfpqTopK]] composes the two: probe3
  * clusters cut the scored pairs ~nProbe/nClusters while ADC cuts
  * the per-pair cost dims/m-fold).
  *
  * Exact-replay contract: partial dots are floored to integer
  * millionths (`floor(dot·1e6)` — integer sums are associative, so
  * the (q_id, vec_id) aggregate is order-independent and replays
  * bit-for-bit in DuckDB), and the approximate norm |v|² ≈ Σ|c|² is
  * summed from per-(sub, code) integer literals computed ONCE
  * driver-side. Each entry point returns its trained [[Model]] with
  * its frame, and the oracle embeds the codebooks as literals (see
  * [[graft.QueryModule.trained]]).
  */
object Pq {

  /** Integer score scale: partial dots are floored to millionths. */
  private val Scale = 1e6

  final case class Model(
      codebooks: Array[Array[Array[Double]]], // [sub][code][subdim]
      subDim: Int, queryMaxId: Long, k: Int,
      coarse: Option[(Array[Array[Double]], Int)], // IVF-PQ: (centroids, nProbe)
      shortlist: Int = 0) // re-ranked variant: ADC candidates per query

  /** floor(|c|²·1e6) per (sub, code) — driver-side once, shared as
    * literals by the Spark plan and the oracle (zero parity risk). */
  def cn2i(codebooks: Array[Array[Array[Double]]]): Array[Array[Long]] =
    codebooks.map(_.map(c => math.floor(c.map(x => x * x).sum * Scale).toLong))

  /** Codebooks as data: one row per (sub, code) with the centroid,
    * its half squared norm (assignment rank) and its integer squared
    * norm (ADC norm part). */
  def codebookFrame(
      s: SparkSession, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    val n2 = cn2i(codebooks)
    (for {
      (book, sub) <- codebooks.zipWithIndex
      (c, j) <- book.zipWithIndex
    } yield (sub, j, c.toSeq, c.map(x => x * x).sum / 2.0, n2(sub)(j)))
      .toSeq.toDF("sub", "j", "c", "half", "cn2i")
  }

  /** (vec_id, sub, sv): the m contiguous subvectors of each vector,
    * generated by scan-stage `slice` expressions (no join). */
  def subVectors(prepared: DataFrame, m: Int, subDim: Int): DataFrame =
    prepared.select(col("vec_id"),
      posexplode(array((0 until m).map(j =>
        slice(col("v"), j * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")))

  /** Nearest-code assignment per (vector, subspace): broadcast
    * codebook join + map-side-combined argmax (rank = sv·c − |c|²/2,
    * monotone in euclidean distance; ties to the larger j — the
    * `max(struct)` order). One exchange, one slim row per pair. */
  def assignCodes(subvecs: DataFrame, cdf: DataFrame): DataFrame =
    subvecs.join(broadcast(cdf), Seq("sub"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(max(struct(
        (Similarity.dot(col("sv"), col("c")) - col("half")).as("s"),
        col("j").as("j"))).getField("j").as("code"))

  /** Deterministic init (subvectors of the first ksub vectors) +
    * `iters` Lloyd steps — every iteration trains ALL m codebooks in
    * one distributed assignment + one means aggregate; the subvector
    * rides through the argmax via `first` (the [[Ivf.assigned]]
    * trick), so no join-back is needed. */
  def train(prepared: DataFrame, m: Int, ksub: Int, subDim: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val s = prepared.sparkSession
    val seed = prepared.orderBy(col("vec_id")).limit(ksub)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m, seed.length) { (sub, j) =>
        seed(j).slice(sub * subDim, sub * subDim + subDim)
      }
    for (_ <- 0 until iters) {
      val means = subVectors(prepared, m, subDim)
        .join(broadcast(codebookFrame(s, codebooks)), Seq("sub"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(max(struct(
            (Similarity.dot(col("sv"), col("c")) - col("half")).as("s"),
            col("j").as("j"))).getField("j").as("code"),
          first(col("sv")).as("sv"))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(avg(col("x")).as("mn"))
        .collect()
      val next = codebooks.map(_.map(_.clone()))
      means.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      codebooks = next
    }
    codebooks
  }

  /** Exhaustive ADC top-k: every corpus vector scored against every
    * query through its m code ids. `emb` must have (vec_id,
    * embedding); queries are the rows with vec_id < queryMaxId. */
  def adcTopK(emb: DataFrame, queryMaxId: Long, k: Int,
      m: Int = 4, ksub: Int = 16, iters: Int = 2): (DataFrame, Model) = {
    val base = Similarity.prepared(emb).scopedCache()
    val subDim = dims(base) / m
    val codebooks = train(base, m, ksub, subDim, iters)
    (rankAdc(base, codebooks, subDim, queryMaxId, k, clusterOf = None),
      Model(codebooks, subDim, queryMaxId, k, None))
  }

  /** IVF-PQ: the IVF coarse quantizer prunes candidates to the
    * query's nProbe clusters, PQ codes score the survivors. The two
    * compressions compose: candidate count drops ~nProbe/nClusters,
    * per-candidate cost drops dims/m — the standard billion-scale
    * ANN layout. */
  def ivfpqTopK(emb: DataFrame, queryMaxId: Long, k: Int,
      m: Int = 4, ksub: Int = 16, iters: Int = 2,
      nClusters: Int = 8, nProbe: Int = 3,
      coarseIters: Int = 1): (DataFrame, Model) = {
    val base = Similarity.prepared(emb).scopedCache()
    val subDim = dims(base) / m
    val coarse = Ivf.train(base, nClusters, coarseIters)
    val codebooks = train(base, m, ksub, subDim, iters)
    (rankAdc(base, codebooks, subDim, queryMaxId, k,
      clusterOf = Some((coarse, nProbe))),
      Model(codebooks, subDim, queryMaxId, k, Some((coarse, nProbe))))
  }

  /** ADC shortlist + EXACT re-rank — the standard production recall
    * repair (Jégou et al. §V: re-rank the compressed-index shortlist
    * with true distances): ADC picks `shortlist` candidates per
    * query, the exact vectors are joined back for ONLY those
    * |Q|·shortlist pairs, and the final top-k is exact cosine. At
    * 100 TB the corpus-wide pass stays m-byte codes; full vectors are
    * touched for a bounded candidate set (an equi-join on vec_id —
    * broadcastable when |Q|·shortlist is small). */
  def adcTopKReranked(emb: DataFrame, queryMaxId: Long, k: Int,
      shortlist: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 2): (DataFrame, Model) = {
    val base = Similarity.prepared(emb).scopedCache()
    val subDim = dims(base) / m
    val codebooks = train(base, m, ksub, subDim, iters)
    val short = rankAdc(base, codebooks, subDim, queryMaxId, shortlist,
      clusterOf = None)
    (exactRerank(base, short, queryMaxId, k),
      Model(codebooks, subDim, queryMaxId, k, None, shortlist))
  }

  /** IVF-PQ + exact re-rank — BOTH production knobs composed: the
    * coarse quantizer cuts candidates to nProbe clusters, ADC scores
    * the survivors through m-byte codes, and the shortlist's true
    * vectors are joined back for the exact final top-k. This is the
    * full billion-scale serving layout (Jégou et al. §V over an IVF
    * list structure): the corpus-wide work is probe-pruned AND
    * code-compressed, while exactness is bought only for
    * |Q|·shortlist pairs. */
  def ivfpqTopKReranked(emb: DataFrame, queryMaxId: Long, k: Int,
      shortlist: Int, m: Int = 4, ksub: Int = 16, iters: Int = 2,
      nClusters: Int = 8, nProbe: Int = 3,
      coarseIters: Int = 1): (DataFrame, Model) = {
    val base = Similarity.prepared(emb).scopedCache()
    val subDim = dims(base) / m
    val coarse = Ivf.train(base, nClusters, coarseIters)
    val codebooks = train(base, m, ksub, subDim, iters)
    val short = rankAdc(base, codebooks, subDim, queryMaxId, shortlist,
      clusterOf = Some((coarse, nProbe)))
    (exactRerank(base, short, queryMaxId, k),
      Model(codebooks, subDim, queryMaxId, k, Some((coarse, nProbe)),
        shortlist))
  }

  /** Exact-cosine re-rank of an approximate shortlist: full vectors
    * touched for only the |Q|·shortlist candidate pairs (broadcast
    * equi-join on vec_id). */
  private def exactRerank(base: DataFrame, short: DataFrame,
      queryMaxId: Long, k: Int): DataFrame = {
    val cand = short.select(col("q_id"), col("neighbor_id").as("vec_id"))
    val queries = base.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val exact = broadcast(cand)
      .join(base, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("sim",
        Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    Similarity.rankTopK(exact, k)
  }

  /** One-row dims probe (bounded driver materialization, the Groups
    * numeric-probe pattern). */
  private def dims(prepared: DataFrame): Int =
    prepared.select(size(col("v"))).limit(1).collect()(0).getInt(0)

  private def rankAdc(base: DataFrame, codebooks: Array[Array[Array[Double]]],
      subDim: Int, queryMaxId: Long, k: Int,
      clusterOf: Option[(Array[Array[Double]], Int)]): DataFrame = {
    val s = base.sparkSession
    val m = codebooks.length
    val cdf = codebookFrame(s, codebooks)
    val queries = base.filter(col("vec_id") < queryMaxId)
    // (sub, code) → integer partial dot per query, with the code's
    // integer squared norm riding along so the score aggregate needs
    // no second join. |Q|·m·ksub rows — broadcast-small.
    val lut = subVectors(queries, m, subDim)
      .join(broadcast(cdf), Seq("sub"))
      .select(col("vec_id").as("q_id"), col("sub"), col("j").as("code"),
        floor(Similarity.dot(col("sv"), col("c")) * Scale).as("pdot"),
        col("cn2i"))
    val qn = queries.select(col("vec_id").as("q_id"), col("nrm").as("qn"))
    val codes = assignCodes(subVectors(base, m, subDim), cdf)
    // IVF-PQ: restrict (q_id, vec_id) pairs to the query's probed
    // clusters before ADC — the coarse stage's candidate cut.
    val candidates = clusterOf match {
      case None => codes
      case Some((coarse, nProbe)) =>
        import org.apache.spark.sql.expressions.Window
        val cf = Ivf.centroidFrame(s, coarse)
        val assignedC = Ivf.assigned(base, coarse)
          .select(col("vec_id"), col("cluster"))
        val probes = queries.crossJoin(broadcast(cf))
          .withColumn("sc", Similarity.dot(col("v"), col("c")) - col("half"))
          .withColumn("pr", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("sc").desc, col("j"))))
          .filter(col("pr") <= nProbe)
          .select(col("vec_id").as("pq_id"), col("j").as("cluster"))
        codes.join(assignedC, Seq("vec_id"))
          .join(broadcast(probes), Seq("cluster"))
          .select(col("vec_id"), col("sub"), col("code"),
            col("pq_id").as("probe_q"))
    }
    val joined = clusterOf match {
      case None => candidates.join(broadcast(lut), Seq("sub", "code"))
      case Some(_) => candidates.join(broadcast(lut),
        candidates("sub") === lut("sub") && candidates("code") === lut("code") &&
          candidates("probe_q") === lut("q_id"))
    }
    val scored = joined
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"), sum(col("cn2i")).as("an2"))
      .join(broadcast(qn), Seq("q_id"))
      .withColumn("sim", col("adot").cast("double") /
        (col("qn") * sqrt(col("an2").cast("double") / Scale) * Scale))
    Similarity.rankTopK(scored, k)
  }
}
