package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Multiple-regression runtime prediction — the reference's headline
  * analytic (SAAF's published result: ordinary-least-squares runtime
  * estimation from Linux CPU time accounting, "multiple regression to
  * estimate FaaS function runtime… MAPE ≈ 3.49%",
  * /root/reference/research.md:19, per-scenario error table
  * research/performance_modeling/IC2E Data.csv:3-9), re-expressed as
  * a distributed Spark aggregate.
  *
  * TRAINING is one map-side-combined pass: the normal-equation
  * sufficient statistics X'X and X'y — (k+1)(k+2)/2 + (k+1) scalar
  * sums over integer features — reduce to a single driver row; the
  * k×k solve happens at the driver on numbers that are EXACT (the
  * sums accumulate as DECIMAL(38,0): overflow-proof at any corpus
  * size, and integer addition is associative, so the statistics —
  * and therefore the weights — are bit-identical under any
  * partitioning). Nothing row-shaped ever reaches the driver: the
  * same shape as [[QualityClassifier.train]]'s gradient aggregate,
  * with one pass instead of an iteration.
  *
  * INFERENCE is exactly replayable integer arithmetic (the
  * post-training oracle contract of [[graft.QueryModule.trained]]):
  * weights round to ppm longs, a row's prediction is `w0 + Σ wᵢ·xᵢ`
  * in ppm — pure long multiply-add, so the oracle replays predictions and the
  * per-group MAPE with the weight vector inlined as literals. The
  * absolute-percentage error stays integral too:
  * `ape_ppm = |pred_ppm − y·10⁶| DIV y` (y > 0 required — both
  * engines' integer division agree on non-negatives).
  */
object Ols {

  /** Fitted model: ppm-rounded weights, index 0 = intercept, then one
    * per feature in [[fit]]'s feature order. */
  final case class Model(wPpm: Array[Long]) {
    def k: Int = wPpm.length - 1
  }

  /** The normal-equation SUFFICIENT STATISTICS: the upper triangle of
    * X'X plus X'y for the intercept-augmented design, as EXACT
    * integers (java BigInteger — unbounded, and addition is
    * associative and commutative, so stats are a pure function of the
    * row multiset). The statistics are ADDITIVE: stats(A ∪ B) =
    * stats(A) + stats(B) — which is what makes the fit maintainable
    * incrementally (a streaming drain folds per-batch stats and the
    * folded model is BIT-IDENTICAL to the batch fit, not
    * approximately trained). */
  final case class SuffStats(k: Int, m: Vector[BigInt]) {
    def add(o: SuffStats): SuffStats = {
      require(o.k == k, s"stats width mismatch: $k vs ${o.k}")
      SuffStats(k, m.zip(o.m).map { case (a, b) => a + b })
    }
    /** Solve the k+1 normal equations — Gaussian elimination with
      * partial pivoting, deterministic driver arithmetic over exact
      * inputs. Fails loudly on a (near-)singular design: collinear
      * features have no unique least-squares solution and a silent
      * pseudo-solve would poison every downstream prediction. */
    def solve(): Model = {
      val n = k + 1
      val a = Array.ofDim[Double](n, n + 1) // augmented [X'X | X'y]
      var idx = 0
      for (i <- 0 to k; j <- i to k) {
        val v = m(idx).toDouble
        a(i)(j) = v; a(j)(i) = v
        idx += 1
      }
      for (i <- 0 to k) a(i)(n) = m(idx + i).toDouble
      for (c <- 0 until n) {
        val p = (c until n).maxBy(r => math.abs(a(r)(c)))
        val tmp = a(p); a(p) = a(c); a(c) = tmp
        require(math.abs(a(c)(c)) > 1e-9 * math.max(1.0, math.abs(a(0)(0))),
          "singular design matrix: the feature set is collinear")
        for (r <- 0 until n; if r != c) {
          val f = a(r)(c) / a(c)(c)
          for (cc <- c to n) a(r)(cc) -= f * a(c)(cc)
        }
      }
      Model((0 until n).map(i =>
        math.round(a(i)(n) / a(i)(i) * 1e6)).toArray)
    }
  }

  /** Column names the statistics serialize under (a 1-row frame of
    * DECIMAL(38,0) — how a standing stats table persists them). */
  def statsCols(k: Int): Seq[String] =
    (for (i <- 0 to k; j <- i to k) yield s"m_${i}_$j") ++
      (0 to k).map(i => s"b_$i")

  /** ONE map-side-combined pass computing [[SuffStats]] over `df` —
    * nothing row-shaped reaches the driver; each term is cast to
    * decimal BEFORE the sum so accumulation is exact and unbounded
    * (the per-row product itself is long: features are small integer
    * units — the caller's scaling contract). */
  def stats(df: DataFrame, features: Seq[String],
      target: String): SuffStats = {
    val k = features.size
    require(k >= 1, "OLS needs at least one feature")
    val aug: Seq[Column] = lit(1L) +: features.map(col)
    val moments = for (i <- 0 to k; j <- i to k)
      yield sum((aug(i) * aug(j)).cast("decimal(38,0)")).as(s"m_${i}_$j")
    val rhs = (0 to k).map(i =>
      sum((aug(i) * col(target)).cast("decimal(38,0)")).as(s"b_$i"))
    val aggs = moments ++ rhs
    val row: Row = df.agg(aggs.head, aggs.tail: _*).head()
    // an empty frame sums to NULL: its statistics are zero (the
    // additive identity — an empty batch folds as a no-op)
    SuffStats(k, (0 until aggs.size).map(i =>
      if (row.isNullAt(i)) BigInt(0)
      else BigInt(row.getDecimal(i).toBigInteger)).toVector)
  }

  /** OLS fit of LONG column `target` on LONG columns `features` (plus
    * an intercept): [[stats]] then [[SuffStats.solve]]. */
  def fit(df: DataFrame, features: Seq[String], target: String): Model =
    stats(df, features, target).solve()

  /** PER-GROUP OLS — the reference's per-scenario models: ONE grouped
    * pass computes EVERY group's sufficient statistics (the same
    * exact decimal sums under a hash aggregate — map-side-combined,
    * G·(k+1)(k+4)/2 cells to the driver), then G small solves.
    * Fitting 10k scenario models costs one corpus scan, not 10k.
    * `group` cardinality must be bounded (scenarios/configs — the
    * IC2E prediction groups), never data-scaled: the models come back
    * driver-side by construction. Each group's model is exactly
    * [[fit]] over that group's rows (additivity: the grouped
    * statistics ARE the filtered statistics — OlsSpec pins it). */
  def fitPerGroup(df: DataFrame, features: Seq[String], target: String,
      group: String): Map[String, Model] = {
    val k = features.size
    require(k >= 1, "OLS needs at least one feature")
    val aug: Seq[Column] = lit(1L) +: features.map(col)
    val moments = for (i <- 0 to k; j <- i to k)
      yield sum((aug(i) * aug(j)).cast("decimal(38,0)")).as(s"m_${i}_$j")
    val rhs = (0 to k).map(i =>
      sum((aug(i) * col(target)).cast("decimal(38,0)")).as(s"b_$i"))
    val aggs = moments ++ rhs
    df.groupBy(col(group).cast("string").as("_g"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val st = SuffStats(k, (1 to aggs.size).map(i =>
          if (r.isNullAt(i)) BigInt(0)
          else BigInt(r.getDecimal(i).toBigInteger)).toVector)
        r.getString(0) -> st.solve()
      }.toMap
  }

  /** Per-row prediction under PER-GROUP weights: a literal CASE chain
    * over the (bounded) group set — still a pure long multiply-add
    * inside codegen, no join. Rows of unknown groups predict null. */
  def predictPpmGrouped(models: Map[String, Model],
      features: Seq[String], group: String): Column =
    models.toSeq.sortBy(_._1).foldLeft(lit(null).cast("long")) {
      case (acc, (g, m)) =>
        when(col(group) === g, predictPpm(m, features)).otherwise(acc)
    }

  /** Per-row prediction in ppm: `w0 + Σ wᵢ·xᵢ` as one long
    * multiply-add column — weights ride as literals, no join, fully
    * codegen'd. */
  def predictPpm(model: Model, features: Seq[String]): Column =
    features.zipWithIndex.foldLeft(lit(model.wPpm(0))) {
      case (acc, (f, i)) => acc + lit(model.wPpm(i + 1)) * col(f)
    }

  /** Per-group prediction-error report — the IC2E per-scenario MAPE
    * table as data: (group, n, sum_ape_ppm, mape_ppm) with
    * `ape_ppm = |pred_ppm − y·10⁶| DIV y` per row (exact integers;
    * requires y > 0) and `mape_ppm = sum_ape_ppm DIV n`. */
  def mapeReport(df: DataFrame, model: Model, features: Seq[String],
      target: String, group: String): DataFrame =
    df.withColumn("pred_ppm", predictPpm(model, features))
      .withColumn("ape_ppm",
        expr(s"abs(pred_ppm - $target * 1000000) DIV $target"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n"), sum(col("ape_ppm")).as("sum_ape_ppm"))
      .withColumn("mape_ppm", expr("sum_ape_ppm DIV n"))
}
