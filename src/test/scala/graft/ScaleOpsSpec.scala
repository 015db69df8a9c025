package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Ivf, Salting, Similarity}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("ivf results appear in brute-force ranking with identical sims") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5), 600)
      .select("q_id", "neighbor_id", "sim").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val ivf = Ivf.ivfTopK(emb, queryMaxId = 5L, k = 5,
      nClusters = 8, nProbe = 3, iters = 2)._1
      .select("q_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, n, s) =>
      assert(brute.contains((q, n)) && brute((q, n)) === s)
    }
  }

  test("probing all clusters recovers exact brute-force top-k") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3), 5)
      .select("q_id", "rank", "neighbor_id").collect().map(_.toSeq)
    val ivf = Ivf.ivfTopK(emb, queryMaxId = 3L, k = 5,
      nClusters = 4, nProbe = 4, iters = 1)._1
      .select("q_id", "rank", "neighbor_id").collect().map(_.toSeq)
    assert(ivf.toSeq === brute.toSeq)
  }
}

class SaltingSpec extends SparkSpec {
  import spark.implicits._

  test("salted count equals direct count under heavy skew") {
    val df = (Seq.fill(5000)("hot") ++ Seq("a", "b", "c")).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val direct = df.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salting.saltedCount(df, "k", col("payload"), 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === direct)
  }

  test("salted join equals plain join under heavy skew") {
    val big = (Seq.fill(3000)(1L) ++ Seq(2L, 3L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val small = Seq((1L, "x"), (2L, "y"), (4L, "z")).toDF("k", "tag")
    val direct = big.join(small, Seq("k")).select("k", "payload", "tag")
      .collect().map(_.toSeq).toSet
    val salted = Salting.saltedJoin(big, small, "k", col("payload"), 8)
      .select("k", "payload", "tag").collect().map(_.toSeq).toSet
    assert(salted === direct)
  }
}

class ParSpec extends SparkSpec {
  import spark.implicits._

  test("widen spreads a narrow input to the cluster parallelism") {
    val p = spark.sparkContext.defaultParallelism
    val narrow = (1 to 100).toDF("x").coalesce(1)
    assert(narrow.rdd.getNumPartitions === 1)
    val widened = graft.core.Par.widen(narrow)
    assert(widened.rdd.getNumPartitions === p)
    assert(widened.count() === 100)
  }

  test("widen leaves an already-wide input untouched (no exchange)") {
    val p = spark.sparkContext.defaultParallelism
    val wide = (1 to 1000).toDF("x").repartition(p + 7)
    val out = graft.core.Par.widen(wide)
    // the same plan object comes back: no repartition node added, so
    // a 100 TB scan with more splits than cores is never re-shuffled
    assert(out eq wide)
    assert(out.rdd.getNumPartitions === p + 7)
  }

  test("widen skips exchange-bearing plans without probing them") {
    // post-shuffle frames are never narrow (they carry
    // spark.sql.shuffle.partitions), and probing an adaptive plan
    // via .rdd would materialize its query stages at plan time —
    // the helper must return such plans untouched on the plan
    // inspection alone
    val agg = (1 to 100).toDF("x")
      .groupBy($"x" % 10 as "k").count()
    assert(graft.core.Par.widen(agg) eq agg)
    val joined = (1 to 50).toDF("a")
      .join((1 to 50).toDF("a"), "a")
    assert(graft.core.Par.widen(joined) eq joined)
  }
}
