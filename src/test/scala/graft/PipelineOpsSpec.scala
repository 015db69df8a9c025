package graft

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge
import graft.ops.{AsofJoin, Components, Profile, Split, TextAnalysis, Upsert}

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  // the two tests below pin the distributed loop: at their sizes
  // connectedComponents itself takes the driver path
  test("min-label propagation finds components on a chain (diameter > 1 round)") {
    // 1-2-3-4 is a chain: the min label needs 3 hops to reach node 4,
    // proving the loop iterates to fixpoint rather than one round
    val nodes = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id1", "id2")
    val got = Components.distributedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  private def path(n: Long) =
    ((0L until n).toDF("id"), (0L until n - 1).map(i => (i, i + 1)).toDF("id1", "id2"))

  test("pointer jumping converges a 100-node path within default rounds") {
    // diameter 99: pure propagation would need 99 rounds and exit
    // maxIters=25 non-converged; the per-batch pointer jump doubles
    // reach, so this converges
    val (nodes, edges) = path(100L)
    val got = Components.distributedComponents(nodes, edges)
      .collect().map(r => r.getLong(1)).distinct
    assert(got.toSeq === Seq(0L))
  }

  test("the distributed loop throws rather than return partial clusters") {
    // two rounds and one jump reach a handful of hops, not 99
    val (nodes, edges) = path(100L)
    intercept[IllegalStateException](
      Components.distributedComponents(nodes, edges, maxIters = 2))
  }

  test("the driver path labels the same 100-node path in one pass") {
    val (nodes, edges) = path(100L)
    val got = Components.connectedComponents(nodes, edges, maxIters = 2)
      .collect().map(r => r.getLong(1)).distinct
    assert(got.toSeq === Seq(0L))
  }

  test("driver union-find walks a 10^6-long chain without recursion") {
    // edges from the far end first: each union hangs the previous
    // root under a smaller id, building a 10^6-deep parent chain that
    // a recursive find would overflow on
    val n = 1000000L
    val edges = (n - 2 to 0L by -1L).map(i => (i, i + 1)).toArray
    val labels = Components.endpointLabels(edges)
    assert(labels.length == n)
    assert(labels.forall(_._2 == 0L))
  }

  test("cluster sizes attach per node") {
    val nodes = (1L to 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val got = Components.withClusterSizes(
        Components.connectedComponents(nodes, edges))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (4L, 4L, 1L)))
  }

  /** Jobs started by `body`, counted off the listener bus. */
  private def jobsOf(body: => Unit): Int = {
    Bridge.drainListenerBus(spark) // flush prior tests' events
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Bridge.drainListenerBus(spark)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a bounded edge set is labeled in at most 4 jobs; the loop takes more") {
    // 65 edges over 100 nodes: five 13-edge chains, 30 isolated nodes
    val nodes = (0L until 100L).toDF("id")
    val edges = (0L until 5L).flatMap(c => (0L until 13L).map(i =>
      (c * 20 + i, c * 20 + i + 1))).toDF("id1", "id2")
    assert(edges.count() == 65)
    var driver: Set[Long] = Set.empty
    val bounded = jobsOf {
      driver = Components.connectedComponents(nodes, edges)
        .collect().map(_.getLong(1)).toSet
    }
    var loop: Set[Long] = Set.empty
    val distributed = jobsOf {
      loop = Components.distributedComponents(nodes, edges)
        .collect().map(_.getLong(1)).toSet
    }
    info(s"bounded path: $bounded jobs, distributed loop: $distributed jobs")
    assert(driver === loop)
    assert(driver.size === 5 + 30)
    assert(bounded <= 4, s"bounded path took $bounded jobs")
    assert(distributed > 4, s"distributed loop took only $distributed jobs")
  }
}

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def run(left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Long)]) =
    AsofJoin.asofJoin(
        left.toDF("event_id", "user_id", "ts_us"),
        right.toDF("event_id", "user_id", "ts_us"),
        key = "user_id", ts = "ts_us", tie = "event_id",
        leftOut = Seq("event_id", "user_id", "ts_us"),
        rightOut = Seq("event_id", "ts_us"))
      .collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4)))))
      .toMap

  test("picks the latest right row at or before each left row, per key") {
    val got = run(
      left = Seq((100L, 1L, 10L), (101L, 1L, 5L), (102L, 2L, 7L)),
      right = Seq((200L, 1L, 3L), (201L, 1L, 10L), (202L, 2L, 1L)))
    assert(got === Map(
      100L -> Some((201L, 10L)), // inclusive: right at the exact left ts wins
      101L -> Some((200L, 3L)),
      102L -> Some((202L, 1L))))
  }

  test("left rows with no prior right row get nulls") {
    val got = run(
      left = Seq((100L, 1L, 2L), (101L, 3L, 9L)),
      right = Seq((200L, 1L, 5L)))
    assert(got === Map(100L -> None, 101L -> None))
  }

  test("forward direction picks the earliest right row at or after") {
    val got = AsofJoin.asofJoin(
        Seq((100L, 1L, 5L), (101L, 1L, 11L), (102L, 2L, 0L))
          .toDF("event_id", "user_id", "ts_us"),
        Seq((200L, 1L, 3L), (201L, 1L, 5L), (202L, 1L, 5L), (203L, 2L, 2L))
          .toDF("event_id", "user_id", "ts_us"),
        key = "user_id", ts = "ts_us", tie = "event_id",
        leftOut = Seq("event_id"), rightOut = Seq("event_id", "ts_us"),
        forward = true)
      .collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
      .toMap
    assert(got === Map(
      100L -> Some((201L, 5L)), // inclusive; MIN tie among ts ties (201 < 202)
      101L -> None,             // nothing at or after ts=11
      102L -> Some((203L, 2L))))
  }
}

class TfidfSpec extends SparkSpec {
  import spark.implicits._

  test("a corpus-unique term outranks ubiquitous terms") {
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the dog sat"),
      (3L, "the cat ran fast")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // 'the' (df=3, score 1) loses to each doc's rarer terms (df=1 -> 3)
    assert(top(1L) != "the")
    assert(top(2L) === "dog")
    assert(top(3L) != "the")
  }

  test("scores are tf * N/df and ranks are dense per doc") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val rows = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // doc 1: a tf=2 df=1 -> 4.0 ; b tf=1 df=2 -> 1.0
    assert(rows.filter(_._1 == 1L).map(t => (t._2, t._3, t._6)).toSeq ===
      Seq((1L, "a", 4.0), (2L, "b", 1.0)))
    // doc 2: c tf=1 df=1 -> 2.0 ; b tf=1 df=2 -> 1.0
    assert(rows.filter(_._1 == 2L).map(t => (t._2, t._3, t._6)).toSeq ===
      Seq((1L, "c", 2.0), (2L, "b", 1.0)))
  }
}

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("insert, row-wise update (null cells override), delete, untouched") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    val changes = Seq(
      (2L, null.asInstanceOf[String], 99L, false), // update: null REPLACES "b"
      (3L, "x", 0L, true),                         // tombstone
      (4L, "d", 40L, false))                       // insert
      .toDF("k", "s", "v", "is_deleted")
    val got = Upsert.applyChanges(base, changes, "k", "is_deleted")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "a", 10L), (2L, null, 99L), (4L, "d", 40L)))
  }

  test("widen: the value-preserving lattice; refusal beats narrowing") {
    import org.apache.spark.sql.types._
    assert(Upsert.widen(IntegerType, LongType) === Some(LongType))
    assert(Upsert.widen(LongType, ShortType) === Some(LongType))
    assert(Upsert.widen(FloatType, DoubleType) === Some(DoubleType))
    assert(Upsert.widen(IntegerType, DoubleType) === Some(DoubleType))
    assert(Upsert.widen(StringType, StringType) === Some(StringType))
    assert(Upsert.widen(StringType, LongType) === None)
    assert(Upsert.widen(DoubleType, StringType) === None)
  }

  test("applyChangesWidened: wide changes fold into a narrow base, nothing narrowed") {
    import org.apache.spark.sql.types._
    val base = Seq((1, 10, 1.5f), (2, 20, 2.5f), (3, 30, 3.5f))
      .toDF("k", "v", "f")
      .select(col("k").cast("int").as("k"), col("v").cast("int").as("v"),
        col("f")) // int key, int v, float f
    val changes = Seq(
      (2L, 5000000000L, 2.5d, false), // update in WIDE types
      (3L, 0L, 0d, true),             // tombstone
      (4L, 40L, 4.5d, false))         // insert
      .toDF("k", "v", "f", "del")
    val out = Upsert.applyChangesWidened(base, changes, "k", "del")
    assert(out.schema("k").dataType === LongType)
    assert(out.schema("v").dataType === LongType)
    assert(out.schema("f").dataType === DoubleType)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the 5e9 update only fits because the merge widened; the carried
    // base row (k=1) up-cast without value change
    assert(got === Set((1L, 10L, 1.5d), (2L, 5000000000L, 2.5d),
      (4L, 40L, 4.5d)))
    // a genuinely incompatible pair refuses loudly
    val bad = Seq((1L, "x", false)).toDF("k", "v", "del")
    val e = intercept[IllegalArgumentException] {
      Upsert.applyChangesWidened(base, bad, "k", "del")
    }
    assert(e.getMessage.contains("no safe widening"))
  }
}

class SplitSpec extends SparkSpec {
  import spark.implicits._

  private val cuts = Seq("train" -> 80, "val" -> 10, "test" -> 10)

  test("every row gets exactly one split; proportions are roughly honored") {
    val ids = (0L until 2000L).toDF("id")
    val n = ids.withColumn("split", Split.splitLabel(col("id"), "s1", cuts))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n.values.sum === 2000L)
    assert(n("train") > 1500 && n("train") < 1700)
    assert(n("val") > 120 && n("val") < 280)
    assert(n("test") > 120 && n("test") < 280)
  }

  test("stratified samples are nested across rates under one salt") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "g")
    def sampled(rates: Seq[(String, Int)]) = df
      .filter(Split.stratifiedFilter(col("id"), col("g"), "s1", rates, 10))
      .select("id").as[Long].collect().toSet
    val low = sampled(Seq("a" -> 20))
    val high = sampled(Seq("a" -> 60))
    assert(low.subsetOf(high)) // same salt: lower rate nests in higher
    assert(low.nonEmpty && high.size > low.size)
  }

  test("assignment is stable across runs and orderings, and salt re-deals") {
    val a = (0L until 500L).toDF("id")
      .withColumn("split", Split.splitLabel(col("id"), "s1", cuts))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = (0L until 500L).reverse.toDF("id").repartition(7)
      .withColumn("split", Split.splitLabel(col("id"), "s1", cuts))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    val c = (0L until 500L).toDF("id")
      .withColumn("split", Split.splitLabel(col("id"), "other", cuts))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a !== c)
  }

  test("per-group cap keeps at most cap rows per group, stably under growth") {
    val df = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    def kept(frame: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] = frame
      .withColumn("rk", Split.capRank(col("id"), col("g"), "s1"))
      .filter(col("rk") <= 10)
      .collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val base = kept(df)
    assert(base.values.forall(_.size === 10))
    // growing a DIFFERENT group never moves this group's kept set
    val grown = kept(df.union(
      (1000L until 1100L).map(i => (i, "g0")).toDF("id", "g")))
    assert(grown("g1") === base("g1") && grown("g2") === base("g2"))
    // partitioning-invariant
    assert(kept(df.repartition(7)) === base)
  }

  test("cap rank <= k plans as a WindowGroupLimit (partial top-k before the exchange)") {
    val df = (0L until 100L).map(i => (i, s"g${i % 2}")).toDF("id", "g")
    val plan = df
      .withColumn("rk", Split.capRank(col("id"), col("g"), "s1"))
      .filter(col("rk") <= 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }
}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("per-column counts, nulls, distincts, extrema, exact cents sum") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.5, 2.0), (1.5, null), (3.25, 4.0))
      .toDF("x", "y")
    val got = Profile.profile(df, Seq("x", "y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    assert(got("x") === ((3L, 0L, 2L, 1.5, 3.25, 625L)))
    assert(got("y") === ((3L, 1L, 2L, 2.0, 4.0, 600L)))
  }

  test("approx-distinct survey mode tracks the exact count") {
    val li = graft.core.Tables.lineitem(spark, sf)
    val exact = Profile.profile(li, Seq("l_extendedprice"))
      .collect().head.getLong(3)
    val approx = Profile.profile(li, Seq("l_extendedprice"), exactDistinct = false)
      .collect().head.getLong(3)
    assert(math.abs(approx - exact).toDouble / exact < 0.15,
      s"approx=$approx exact=$exact")
  }
}

class SimhashPairsSpec extends SparkSpec {
  import spark.implicits._

  test("identical docs pair at hamming 0; threshold filters the rest") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now")).toDF("doc_id", "text")
    val sh = graft.ops.Dedup.simhash(docs, "text", "doc_id")
    val pairs = graft.ops.Dedup.simhashPairs(sh, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L, 0L)))
    assert(pairs.forall(_._3 === 0L))
  }
}
