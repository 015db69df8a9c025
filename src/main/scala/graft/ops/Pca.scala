package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA over an embedding column — the dimensionality-reduction step a
  * vector pipeline runs before indexing (project to the top
  * components, then bucket/quantize the projections), built on the
  * same architecture as [[Ols]]: ONE map-side-combined pass reduces
  * the corpus to EXACT scatter statistics, the driver solves, and
  * inference is integer multiply-add with the solution as literals.
  *
  * Exactness: coordinates quantize to integer micro-units
  * (`round(double(f)·10⁶)` — float→double widening is exact, and the
  * rounding is the [[graft.core.Num]] cents discipline), so the
  * scaled-by-n scatter matrix `M = n·Σqqᵀ − s·sᵀ` is a pure BigInt
  * function of the row multiset — NO mean division, NO float
  * accumulation, bit-identical under any partitioning. The power
  * iteration (fixed start, fixed rounds, Hotelling deflation between
  * components) runs on doubles derived from those exact integers —
  * deterministic driver arithmetic, same contract as the OLS solve.
  * Components round to ppm with a fixed sign convention (the
  * largest-|coordinate| entry is positive; ties break to the lower
  * index), so the model is a pure function of the data and the
  * oracle replays projections with the component vectors inlined.
  *
  * Scale: the aggregate ships d(d+3)/2 + 1 cells per partition
  * (d = 64 → 2145), the driver solve is O(d²·iters) — both
  * corpus-size-independent; the projection pass is one codegen'd
  * long multiply-add per row. Centering note: projections are of the
  * RAW quantized coordinates — a per-component constant offset from
  * the centered projection, which preserves all distances and
  * orderings and keeps the arithmetic integral.
  */
object Pca {

  /** Top components, each `d` ppm weights (unit L2 norm in ppm). */
  final case class Model(compPpm: Vector[Array[Long]]) {
    def d: Int = compPpm.head.length
  }

  /** Quantized coordinate i (1-based element index internally). */
  private def q(vecCol: String, i: Int): Column =
    round(element_at(col(vecCol).cast("array<double>"), i + 1) *
      lit(1000000.0d), 0).cast("long")

  /** One-pass exact scatter statistics + driver power iteration.
    *
    * The statistics pass is a PARTITION FOLD over primitive long
    * accumulators (one `mapPartitions`, the justified-sequential
    * class beside LayoutAudit's footer walk and the no-span packer):
    * a d²-cell numeric accumulation expressed as 2145 Catalyst
    * aggregate columns falls out of whole-stage codegen and
    * interprets one decimal sum per cell per row — measured 40 s at
    * sf1 vs ~2 s for the primitive fold. Exactness is preserved by
    * construction: long partials flush into BigInt accumulators under
    * a MAGNITUDE-ADAPTIVE window — the fold tracks the partition's
    * max |q| and flushes before `window · max|q|²` can reach 2⁶², so
    * a product cell can never silently wrap regardless of coordinate
    * scale (unit-norm embeddings flush ~never; |f| ≈ 40 flushes every
    * ~2500 rows; the worst admissible magnitude flushes per-row —
    * slow, still exact). Coordinates at or beyond 2³¹ micro-units
    * (|f| ≳ 2147) are REFUSED loudly: there a single per-row product
    * q·q would itself overflow the long multiply, and a silent wrong
    * scatter poisons every downstream projection. Each partition
    * emits ONE bounded row of decimal strings, and BigInt addition at
    * the driver is order-free — the model stays a pure function of
    * the row multiset (partitioning invariance is property-tested). */
  def fit(emb: DataFrame, vecCol: String, dims: Int,
      nComponents: Int = 2, iters: Int = 80): Model = {
    require(nComponents >= 1 && nComponents <= dims)
    val nStats = dims + dims * (dims + 1) / 2
    val qarr = emb.select(
      array((0 until dims).map(i => q(vecCol, i)): _*).as("q"))
    val parts: Array[(Long, Array[String])] =
      qarr.queryExecution.toRdd.mapPartitions { it =>
        val accL = new Array[Long](nStats)
        val accB = Array.fill(nStats)(BigInt(0))
        var n = 0L
        var sinceFlush = 0
        // magnitude-adaptive flush cap: window · maxQ² must stay
        // below 2⁶² so no product cell can wrap between flushes;
        // recomputed only when the partition's max |q| grows
        val SafeBits = 1L << 62
        var maxQ = 1L
        var cap = 8192
        def flush(): Unit = {
          var i = 0
          while (i < nStats) { accB(i) += accL(i); accL(i) = 0L; i += 1 }
          sinceFlush = 0
        }
        while (it.hasNext) {
          val row = it.next()
          val arr = row.getArray(0)
          var rowMax = 0L
          var i = 0
          while (i < dims) {
            val a = math.abs(arr.getLong(i))
            if (a > rowMax) rowMax = a
            i += 1
          }
          if (rowMax > maxQ) {
            // |q| ≥ 2³¹ would overflow the single long product q·q —
            // refuse rather than silently corrupt the scatter
            require(rowMax < (1L << 31),
              s"coordinate magnitude $rowMax micro-units exceeds the " +
                "exact-fold bound (|f| must be < ~2147) — rescale the " +
                "embedding column before PCA")
            maxQ = rowMax
            cap = math.max(1L, SafeBits / (maxQ * maxQ))
              .min(8192L).toInt
            // the partials already held obey the OLD (smaller) bound;
            // flush them now so the new cap governs a clean window
            flush()
          }
          var idx = 0
          i = 0
          while (i < dims) { accL(idx) += arr.getLong(i); idx += 1; i += 1 }
          i = 0
          while (i < dims) {
            val qi = arr.getLong(i)
            var j = i
            while (j < dims) {
              accL(idx) += qi * arr.getLong(j); idx += 1; j += 1
            }
            i += 1
          }
          n += 1
          sinceFlush += 1
          if (sinceFlush >= cap) flush()
        }
        flush()
        Iterator.single((n, accB.map(_.toString)))
      }.collect()
    val n = BigInt(parts.map(_._1).sum)
    require(n > 1, "PCA needs at least two vectors")
    val tot = Array.fill(nStats)(BigInt(0))
    parts.foreach { case (_, ss) =>
      var i = 0
      while (i < nStats) { tot(i) += BigInt(ss(i)); i += 1 }
    }
    val s = (0 until dims).map(i => tot(i))
    // scaled-by-n scatter: exact integers, no mean division
    val m = Array.ofDim[Double](dims, dims)
    var idx = dims
    for (i <- 0 until dims; j <- i until dims) {
      val v = (n * tot(idx) - s(i) * s(j)).toDouble
      m(i)(j) = v; m(j)(i) = v
      idx += 1
    }
    // deterministic power iteration with Hotelling deflation
    val comps = Vector.newBuilder[Array[Long]]
    val work = m.map(_.clone())
    for (_ <- 0 until nComponents) {
      var v = Array.fill(dims)(1.0d / math.sqrt(dims.toDouble))
      var it = 0
      while (it < iters) {
        val nv = Array.tabulate(dims)(i =>
          (0 until dims).map(j => work(i)(j) * v(j)).sum)
        val nrm = math.sqrt(nv.map(x => x * x).sum)
        require(nrm > 0, "degenerate scatter: all points identical")
        v = nv.map(_ / nrm)
        it += 1
      }
      // fixed sign: the largest-|coordinate| entry positive
      val piv = (0 until dims).maxBy(i => (math.abs(v(i)), -i))
      if (v(piv) < 0) v = v.map(-_)
      comps += v.map(x => math.round(x * 1e6))
      // deflate: W -= λ v vᵀ with λ = vᵀ W v
      val wv = Array.tabulate(dims)(i =>
        (0 until dims).map(j => work(i)(j) * v(j)).sum)
      val lambda = (0 until dims).map(i => v(i) * wv(i)).sum
      for (i <- 0 until dims; j <- 0 until dims)
        work(i)(j) -= lambda * v(i) * v(j)
    }
    Model(comps.result())
  }

  /** Projection of a row onto component `c`, exact long arithmetic:
    * `Σ compPpm(c)(i) · qᵢ` — component literals ride the plan,
    * fully codegen'd, no join. */
  def projectPpm(model: Model, vecCol: String, c: Int): Column =
    (0 until model.d).foldLeft(lit(0L)) { (acc, i) =>
      acc + lit(model.compPpm(c)(i)) * q(vecCol, i)
    }
}
