package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.core.CacheScope
import graft.ops.{Ols, Pca}

/** A trained entry's oracle SQL embeds the model that entry trained,
  * so it must depend on that entry's run alone: a later training call
  * on other data leaves it as it was, and two trained entries give
  * the same oracles whether they run in one order, the other, or at
  * once on the shared session.
  */
class TrainedOracleSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String): Unit =
    CacheScope.withScope(SparkEntry.queries(name)(spark, sf).count())

  private def oracles(names: String*): Map[String, String] =
    names.map(n => n -> SparkEntry.oracleSql(n)).toMap

  test("a later Ols.fit on other data leaves q_runtime_predict's oracle unchanged") {
    run("q_runtime_predict")
    val ols = oracles("q_runtime_predict")
    Ols.fit(Seq((1L, 0L, 2L, 10L), (2L, 5L, 1L, 19L), (3L, 1L, 4L, 33L),
        (5L, 2L, 0L, 51L), (8L, 7L, 3L, 80L), (4L, 3L, 6L, 47L))
        .toDF("qty", "disc_bp", "tax_bp", "y_c"),
      Seq("qty", "disc_bp", "tax_bp"), "y_c")
    assert(oracles("q_runtime_predict") === ols)
  }

  test("a later Pca.fit on other data leaves q_pca_project's oracle unchanged") {
    run("q_pca_project")
    val pca = oracles("q_pca_project")
    Pca.fit((0 until 40).map { i =>
        (i.toLong, Seq(i.toFloat, 0.5f * (i % 3), 0.1f * (i % 7)))
      }.toDF("vec_id", "embedding"),
      "embedding", dims = 3, nComponents = 2)
    assert(oracles("q_pca_project") === pca)
  }

  test("two trained entries give the same oracles in either order and concurrently") {
    Seq(("q_pca_project", "q_ann_pca"), ("q_ann_pq", "q_ann_ivfpq")).foreach {
      case (a, b) =>
        run(a); run(b)
        val ab = oracles(a, b)
        run(b); run(a)
        val ba = oracles(a, b)
        Await.result(Future.sequence(Seq(Future(run(a)), Future(run(b)))),
          10.minutes)
        val together = oracles(a, b)
        assert(ba === ab, s"$a/$b: the oracle depends on run order")
        assert(together === ab, s"$a/$b: concurrent runs change the oracle")
    }
  }
}
