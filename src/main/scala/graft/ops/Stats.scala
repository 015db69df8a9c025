package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's distribution-comparison statistics (the remaining
  * IC2E Data.csv columns beside MAPE: `tStat`/`pValue` and
  * `wassersteinDistance` — how SAAF decides whether two scenarios'
  * runtime distributions differ), engine-grade:
  *
  *  - WELCH'S T: computed from exact integer moments (n, Σy, Σy² per
  *    side — one map-side-combined aggregate), with the variance
  *    numerator kept integral (`n·Σy² − (Σy)²`) so the only floating
  *    arithmetic is a FIXED tree of IEEE ops over exact integers —
  *    bit-identical in any engine that writes the same tree (the
  *    one-final-division discipline of [[graft.core.Num]], extended
  *    to a handful of ops). The Welch–Satterthwaite degrees of
  *    freedom come out of the SAME fixed tree (replayable in SQL);
  *    the two-sided p-value evaluates the t-CDF at the DRIVER —
  *    regularized incomplete beta by Lentz's continued fraction, a
  *    deterministic function of (t, df) doubles — and rides back as
  *    ppm data (the post-fit literal contract: the oracle replays
  *    p_ppm from the driver-computed literals). Significance is the
  *    exact p < 0.05 verdict, NOT the large-sample 1.96 normal
  *    bound — at small n they disagree, and the t-CDF is right
  *    (StatsSpec pins such a case). Keys where the test is not
  *    computable are DROPPED, not emitted as Inf/NaN: a side with
  *    n < 2 has no sample variance, and two zero-variance sides have
  *    no scale — both guards mirrored in the oracle SQL.
  *  - 1-D WASSERSTEIN (earth-mover): `W1 = ∫|F1−F2| dx` over the
  *    merged empirical CDFs, EXACT: per distinct value, cumulative
  *    counts scale-free as `|c1·n2 − c2·n1|`, times the gap to the
  *    next value, summed as decimals and floor-divided by `n1·n2` —
  *    integer end to end, replayable as window SQL.
  *
  * Scale: both reduce per (key, side) — the t-test to six integers
  * per key, the W1 to one ordered pass over (key, distinct-value)
  * rows (the per-key window sort IS the algorithm; its width is
  * value cardinality, never raw rows, after the count pre-aggregate).
  */
object Stats {

  /** Per-key Welch t between `sideCol` ∈ {0, 1} populations of the
    * LONG `valueCol`: (key, n0, n1, t_ppm, df_ppm, p_ppm,
    * significant). `t_ppm = round(t·10⁶)` with t from the fixed IEEE
    * tree `(m0−m1)/sqrt(u0+u1)`, `m = sy/n`,
    * `u = (n·syy − sy²) / (n·(n−1)) / n` — every input an exact
    * integer; `df` is Welch–Satterthwaite
    * `(u0+u1)² / (u0²/(n0−1) + u1²/(n1−1))` from the SAME tree, and
    * `p` the exact two-sided t-CDF tail `I_{df/(df+t²)}(df/2, ½)`
    * evaluated at the driver. Keys with n < 2 on either side, or
    * zero variance on both, are dropped (no computable test — the
    * guard both engines share). `keyCol` cardinality must be bounded
    * (scenarios, not data): the per-key report is collected to
    * compute p.
    *
    * Also returns (p_ppm, significant) per `key.toString`: the t-CDF
    * is driver arithmetic, not SQL, so its RESULTS ride into the
    * oracle as literals (see [[graft.QueryModule.trained]]),
    * including the p < 0.05 verdict so the rounded ppm never
    * re-decides the comparison. */
  def welchT(df: DataFrame, valueCol: String, sideCol: String,
      keyCol: String): (DataFrame, Map[String, (Long, Long)]) = {
    val agg = df.groupBy(col(keyCol), col(sideCol).as("_side"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("sy"),
        sum((col(valueCol) * col(valueCol)).cast("decimal(38,0)"))
          .as("syy"))
      .groupBy(col(keyCol))
      .agg(
        max(when(col("_side") === 0, col("n"))).as("n0"),
        max(when(col("_side") === 0, col("sy"))).as("sy0"),
        max(when(col("_side") === 0, col("syy"))).as("syy0"),
        max(when(col("_side") === 1, col("n"))).as("n1"),
        max(when(col("_side") === 1, col("sy"))).as("sy1"),
        max(when(col("_side") === 1, col("syy"))).as("syy1"))
      // a side with n < 2 has no sample variance (n·(n−1) = 0) and a
      // one-sided key has null moments: both mean "no test", never
      // Inf/NaN data (null comparisons are false — they drop too)
      .filter(col("n0") >= 2 && col("n1") >= 2)
      .withColumn("u0", expr(
        "CAST(n0 * syy0 - sy0 * sy0 AS DOUBLE) / (n0 * (n0 - 1)) / n0"))
      .withColumn("u1", expr(
        "CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE) / (n1 * (n1 - 1)) / n1"))
      // two zero-variance sides have no scale for the difference
      .filter(expr("u0 + u1 > 0"))
      .withColumn("t_dbl", expr(
        "(CAST(sy0 AS DOUBLE) / n0 - CAST(sy1 AS DOUBLE) / n1) " +
          "/ sqrt(u0 + u1)"))
      .withColumn("df_dbl", expr(
        "(u0 + u1) * (u0 + u1) " +
          "/ (u0 * u0 / (n0 - 1) + u1 * u1 / (n1 - 1))"))
      .select(col(keyCol), col("n0"), col("n1"),
        col("t_dbl"), col("df_dbl"))
    val spark = df.sparkSession
    val rows = agg.collect() // bounded: one row per scenario key
    val out = rows.map { r =>
      val t = r.getDouble(3); val dfree = r.getDouble(4)
      val p = tTwoSidedP(t, dfree)
      org.apache.spark.sql.Row(r.get(0), r.getLong(1), r.getLong(2),
        math.round(t * 1e6), math.round(dfree * 1e6),
        math.round(p * 1e6), if (p < 0.05d) 1L else 0L)
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(agg.schema.head +: Seq("n0", "n1", "t_ppm",
      "df_ppm", "p_ppm", "significant").map(StructField(_, LongType)))
    (spark.createDataFrame(out.toSeq.asJava, schema),
      out.map(r => r.get(0).toString -> (r.getLong(5), r.getLong(6))).toMap)
  }

  /** Two-sided p-value of Student's t at `df` degrees of freedom:
    * `p = I_x(df/2, ½)` with `x = df/(df + t²)` — the regularized
    * incomplete beta, evaluated by Lentz's modified continued
    * fraction with a Lanczos log-gamma (Abramowitz & Stegun 6.1.5 /
    * 26.5.8 — textbook formulas, deterministic IEEE driver
    * arithmetic: a pure function of (t, df)). */
  def tTwoSidedP(t: Double, df: Double): Double =
    regIncBeta(df / 2.0, 0.5, df / (df + t * t))

  private def gammln(x: Double): Double = {
    val cof = Array(76.18009172947146, -86.50532032941677,
      24.01409824083091, -1.231739572450155,
      0.1208650973866179e-2, -0.5395239384953e-5)
    val xx = x
    var y = x
    val tmp0 = xx + 5.5
    val tmp = tmp0 - (xx + 0.5) * math.log(tmp0)
    var ser = 1.000000000190015
    var j = 0
    while (j < 6) { y += 1.0; ser += cof(j) / y; j += 1 }
    -tmp + math.log(2.5066282746310005 * ser / xx)
  }

  private def betacf(a: Double, b: Double, x: Double): Double = {
    val MaxIt = 200; val Eps = 3e-14; val FpMin = 1e-300
    val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
    var c = 1.0
    var d = 1.0 - qab * x / qap
    if (math.abs(d) < FpMin) d = FpMin
    d = 1.0 / d
    var h = d
    var m = 1
    var converged = false
    while (m <= MaxIt && !converged) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < FpMin) d = FpMin
      c = 1.0 + aa / c; if (math.abs(c) < FpMin) c = FpMin
      d = 1.0 / d
      h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1.0 + aa * d; if (math.abs(d) < FpMin) d = FpMin
      c = 1.0 + aa / c; if (math.abs(c) < FpMin) c = FpMin
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < Eps) converged = true
      m += 1
    }
    require(converged, s"incomplete beta did not converge (a=$a b=$b x=$x)")
    h
  }

  /** Regularized incomplete beta `I_x(a, b)`. */
  def regIncBeta(a: Double, b: Double, x: Double): Double = {
    require(x >= 0.0 && x <= 1.0, s"x out of [0,1]: $x")
    if (x == 0.0) 0.0
    else if (x == 1.0) 1.0
    else {
      val bt = math.exp(gammln(a + b) - gammln(a) - gammln(b) +
        a * math.log(x) + b * math.log1p(-x))
      if (x < (a + 1.0) / (a + b + 2.0)) bt * betacf(a, b, x) / a
      else 1.0 - bt * betacf(b, a, 1.0 - x) / b
    }
  }

  /** Per-key exact 1-D Wasserstein distance between the two
    * `sideCol` ∈ {0, 1} populations of LONG `valueCol`, floored to
    * value units: (key, n0, n1, w1). */
  def wasserstein1(df: DataFrame, valueCol: String, sideCol: String,
      keyCol: String): DataFrame = {
    val perV = df.groupBy(col(keyCol), col(valueCol).as("v"))
      .agg(sum(when(col(sideCol) === 0, 1L).otherwise(0L)).as("d0"),
        sum(when(col(sideCol) === 1, 1L).otherwise(0L)).as("d1"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("v"))
    perV
      .withColumn("c0", sum(col("d0")).over(w))
      .withColumn("c1", sum(col("d1")).over(w))
      .withColumn("gap", lead(col("v"), 1).over(w) - col("v"))
      .withColumn("n0", sum(col("d0")).over(Window.partitionBy(col(keyCol))))
      .withColumn("n1", sum(col("d1")).over(Window.partitionBy(col(keyCol))))
      .withColumn("term",
        // decimal BEFORE the gap product: |c·n| ≤ rows², the ×gap
        // product would overflow long at large value ranges
        abs(col("c0") * col("n1") - col("c1") * col("n0"))
          .cast("decimal(38,0)") * coalesce(col("gap"), lit(0L)))
      .groupBy(col(keyCol))
      .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        sum(col("term")).as("sterm"))
      .withColumn("w1", expr("sterm DIV (n0 * n1)"))
      .select(col(keyCol), col("n0"), col("n1"), col("w1"))
  }
}
