package graft

import graft.ops.Stats

/** Hand-computed vectors for the distribution-comparison statistics
  * behind `q_welch_t` / `q_wasserstein`.
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("welchT: hand-computed two-sample vector — the small-n case " +
      "where the 1.96 normal bound and the exact t-CDF DISAGREE") {
    // side 0: (1,2,3) -> n=3, m=2, v=1 ; side 1: (5,7) -> n=2, m=6, v=2
    // t = (2-6)/sqrt(1/3 + 2/2) = -4/sqrt(4/3) = -3.4641016...
    // Welch–Satterthwaite df = (4/3)² / ((1/3)²/2 + 1²/1) = 32/19
    //                        = 1.6842105...
    // two-sided p = I_{df/(df+t²)}(df/2, ½) = 0.0941482 — NOT
    // significant at 0.05, although |t| = 3.46 > 1.96: the normal
    // bound would call it significant and be WRONG at n = (3, 2)
    val df = Seq(("k", 0L, 1L), ("k", 0L, 2L), ("k", 0L, 3L),
      ("k", 1L, 5L), ("k", 1L, 7L)).toDF("g", "side", "y")
    val r = Stats.welchT(df, "y", "side", "g")._1.head()
    assert(r.getString(0) === "k")
    assert((r.getLong(1), r.getLong(2)) === ((3L, 2L)))
    assert(r.getLong(3) === -3464102L) // round(-3.4641016*1e6)
    assert(r.getLong(4) === 1684211L)  // round(32/19*1e6)
    assert(r.getLong(5) === 94148L)    // round(0.0941482*1e6)
    assert(r.getLong(6) === 0L)        // p > 0.05: not significant
  }

  test("welchT: identical populations score t = 0, not significant") {
    val df = (0 until 20).flatMap(i =>
      Seq(("k", 0L, (i % 5).toLong), ("k", 1L, (i % 5).toLong)))
      .toDF("g", "side", "y")
    val r = Stats.welchT(df, "y", "side", "g")._1.head()
    assert(r.getLong(3) === 0L)
    assert(r.getLong(5) === 1000000L) // p = 1 exactly at t = 0
    assert(r.getLong(6) === 0L)
  }

  test("welchT: keys without a computable test are dropped, not NaN") {
    val df = Seq(
      // n1 = 1: no sample variance on side 1
      ("one", 0L, 1L), ("one", 0L, 2L), ("one", 1L, 5L),
      // single-sided key: no side-1 population at all
      ("solo", 0L, 1L), ("solo", 0L, 2L),
      // both sides constant: zero variance, no scale for the test
      ("flat", 0L, 3L), ("flat", 0L, 3L), ("flat", 1L, 7L),
      ("flat", 1L, 7L),
      // a healthy key survives
      ("ok", 0L, 1L), ("ok", 0L, 2L), ("ok", 1L, 5L), ("ok", 1L, 7L))
      .toDF("g", "side", "y")
    val keys = Stats.welchT(df, "y", "side", "g")._1
      .select("g").collect().map(_.getString(0)).toSeq
    assert(keys === Seq("ok"))
  }

  test("tTwoSidedP: textbook values") {
    // t = 2, df = 10: two-sided p = 0.0733880 (standard t-table)
    assert(math.abs(Stats.tTwoSidedP(2.0, 10.0) - 0.0733880) < 1e-6)
    // large df converges to the normal bound: p(1.96) -> 0.05
    assert(math.abs(Stats.tTwoSidedP(1.96, 1e6) - 0.05) < 1e-4)
    // symmetric in t
    assert(Stats.tTwoSidedP(-2.5, 7.0) === Stats.tTwoSidedP(2.5, 7.0))
  }

  test("wasserstein1: hand-computed earth-mover vector") {
    // {0,10} vs {10,20}: every unit of mass moves 10 -> W1 = 10
    val df = Seq(("k", 0L, 0L), ("k", 0L, 10L),
      ("k", 1L, 10L), ("k", 1L, 20L)).toDF("g", "side", "y")
    val r = Stats.wasserstein1(df, "y", "side", "g").head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((2L, 2L, 10L)))
  }

  test("wasserstein1: identical distributions are distance zero, disjoint ones the gap") {
    val same = Seq(("k", 0L, 3L), ("k", 0L, 9L), ("k", 1L, 3L), ("k", 1L, 9L))
      .toDF("g", "side", "y")
    assert(Stats.wasserstein1(same, "y", "side", "g").head().getLong(3) === 0L)
    // point masses at 0 and 100: all mass moves 100
    val far = Seq(("k", 0L, 0L), ("k", 1L, 100L)).toDF("g", "side", "y")
    assert(Stats.wasserstein1(far, "y", "side", "g").head().getLong(3) === 100L)
    // unequal sizes: {0,0} vs {30} -> W1 = 30
    val uneq = Seq(("k", 0L, 0L), ("k", 0L, 0L), ("k", 1L, 30L))
      .toDF("g", "side", "y")
    assert(Stats.wasserstein1(uneq, "y", "side", "g").head().getLong(3) === 30L)
  }
}
