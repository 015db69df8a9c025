package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.core.CacheScope
import graft.ops.{Decontaminate, Dedup, Mix}

/** The Mix and decontamination broadcast lookups key on one integral
  * column, so Spark builds a `LongHashedRelation` (first page 1 MiB)
  * and never an `UnsafeHashedRelation`, whose `BytesToBytesMap` takes
  * a whole Tungsten page however few rows it holds. The hashed
  * shingle key must not change the overlap rows: they equal those of
  * a plain string-keyed join. */
class BroadcastKeySpec extends SparkSpec {
  import spark.implicits._
  import BroadcastKeySpec.broadcastJoins

  /** Build keys of the broadcast joins that are NOT one integral
    * column, after running `df`. */
  private def nonLongBuildKeys(df: DataFrame): Seq[String] = {
    df.collect()
    val joins = broadcastJoins(df.queryExecution.executedPlan)
    assert(joins.nonEmpty, "no broadcast hash join in the plan")
    joins.map(j => if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys)
      .filterNot { keys =>
        keys.size == 1 && (keys.head.dataType match {
          case LongType | IntegerType | ShortType | ByteType => true
          case _ => false
        })
      }
      .map(_.mkString("[", ", ", "]"))
  }

  private val mixDocs = (0L until 60L).map { i =>
    (i, Seq("a", "b", "c")((i % 3).toInt), "w " * (i % 7 + 2).toInt + "w")
  }.toDF("doc_id", "source", "text")

  // repeated shingles inside one doc (1, 100), a doc matching two eval
  // docs (2), docs with zero overlap (4, 5) and one too short to shingle (6)
  private val corpus = Seq(
    (1L, "a b c a b c a b c d e f"),
    (2L, "a b c x y z p q r"),
    (3L, "p q r s t u"),
    (4L, "nothing shared with the eval suite at all"),
    (5L, "zz yy xx ww vv"),
    (6L, "a b"))
    .toDF("doc_id", "text")
  private val evalSet = Seq(
    (100L, "a b c a b c d e f", "s1"),
    (101L, "x y z p q r s t u", "s2"),
    (102L, "a b c x y", "s2"))
    .toDF("doc_id", "text", "suite")

  test("Mix and decontamination broadcast only single integral keys") {
    CacheScope.withScope {
      val plans = Seq(
        "Mix.mix" -> Mix.mix(mixDocs, "text", "doc_id", "source",
          Seq("a" -> 0.5, "b" -> 0.5), 60L, salt = "t"),
        "Mix.mixEpochs" -> Mix.mixEpochs(mixDocs, "text", "doc_id", "source",
          Seq("a" -> 0.7, "b" -> 0.3), 200L, salt = "t"),
        "Decontaminate.flaggedIds" -> Decontaminate.flaggedIds(corpus, evalSet,
          "text", "doc_id", "doc_id", n = 3, flagAt = 0.2),
        "Decontaminate.suiteOverlap" -> Decontaminate.suiteOverlap(corpus, evalSet,
          "text", "doc_id", "doc_id", "suite", n = 3, flagAt = 0.2))
      val bad = plans.flatMap { case (name, df) =>
        nonLongBuildKeys(df).map(k => s"$name: $k")
      }
      assert(bad.isEmpty, s"broadcast joins on non-long keys: $bad")
    }
  }

  /** (id, eval_id) -> shared shingles, by a plain string-keyed join. */
  private def stringJoinPairs(): (Map[(Long, Long), Long], Map[Long, Long]) = {
    val shC = Dedup.wordShingles(corpus, "text", "doc_id", 3)
    val shE = Dedup.wordShingles(evalSet, "text", "doc_id", 3)
      .withColumnRenamed("id", "eval_id")
    val pairs = shC.join(shE, Seq("g"))
      .groupBy("id", "eval_id").count()
      .as[(Long, Long, Long)].collect()
      .map { case (d, e, c) => (d, e) -> c }.toMap
    val evalNg = shE.groupBy("eval_id").count()
      .as[(Long, Long)].collect().toMap
    (pairs, evalNg)
  }

  /** Best (ratio DESC, eval_id ASC) candidate per key. */
  private def best[K](pairs: Map[(Long, Long), Long], evalNg: Map[Long, Long],
      key: ((Long, Long)) => K): Map[K, (Long, Long, Long, Double)] =
    pairs.toSeq.map { case ((d, e), c) =>
      (key((d, e)), (d, e, c, c.toDouble / evalNg(e)))
    }.groupBy(_._1).map { case (k, rows) =>
      k -> rows.map(_._2).maxBy { case (_, e, _, r) => (r, -e) }
    }

  test("hashed shingle key gives the rows of a string-keyed join") {
    val (pairs, evalNg) = stringJoinPairs()
    assert(pairs.nonEmpty && pairs.keySet.map(_._1) === Set(1L, 2L, 3L))

    val want = best(pairs, evalNg, _._1).values
      .map { case (d, e, c, r) => (d, e, c, evalNg(e), r) }.toSet
    val got = CacheScope.withScope {
      Decontaminate.overlapReport(corpus, evalSet,
          "text", "doc_id", "doc_id", n = 3, flagAt = 0.2)
        .filter(col("shared") > 0L)
        .select("id", "eval_id", "shared", "eval_ng", "ratio")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
    }
    assert(got === want)

    val suiteOf = Map(100L -> "s1", 101L -> "s2", 102L -> "s2")
    val wantSuites = best(pairs, evalNg, { case (d, e) => (d, suiteOf(e)) })
      .map { case ((_, s), (d, e, c, r)) => (d, s, e, c, evalNg(e), r) }.toSet
    val gotSuites = CacheScope.withScope {
      Decontaminate.suiteOverlap(corpus, evalSet,
          "text", "doc_id", "doc_id", "suite", n = 3, flagAt = 0.0)
        .select("id", "suite", "eval_id", "shared", "eval_ng", "ratio")
        .as[(Long, String, Long, Long, Long, Double)].collect().toSet
    }
    assert(gotSuites === wantSuites)
  }
}

object BroadcastKeySpec {

  /** Every broadcast hash join of an executed plan, including those
    * inside AQE stages and cached relations. */
  def broadcastJoins(p: SparkPlan): Seq[BroadcastHashJoinExec] = {
    val here = p match {
      case j: BroadcastHashJoinExec => Seq(j)
      case _ => Nil
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children ++ p.subqueries
    }
    here ++ below.flatMap(broadcastJoins)
  }
}
