package graft

import org.apache.spark.sql.graftbridge.Bridge

/** AQE skew-join evidence: PLANS.md claims runtime skew splitting as
  * the lever for hot join keys at 100 TB — this spec forces the
  * condition locally (tiny thresholds, broadcast disabled so the
  * join shuffles) and asserts the optimizer actually split the skewed
  * partition (`skew=true` on the shuffled join in the final adaptive
  * plan), with results identical to the unskewed-path join.
  */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits the hot partition of a shuffled join (skew=true)") {
    // the confs go on a fork, so the shared session never sees them
    val f = Bridge.cloneSession(spark)
    import f.implicits._
    Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      .foreach { case (k, v) => f.conf.set(k, v) }
    val payload = "x" * 100
    val hot = Seq.fill(20000)("hotkey") ++ ('a' to 'z').map(_.toString)
    val facts = hot.zipWithIndex.map { case (k, i) => (k, i.toLong, payload) }
      .toDF("k", "v", "payload")
    val dim = ("hotkey" +: ('a' to 'z').map(_.toString)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "tag")
    val joined = facts.join(dim, Seq("k"))
    // collect() executes joined's OWN QueryExecution — count() would
    // finalize a different (aggregated) adaptive plan
    val n = joined.collect().length
    assert(n === 20000 + 26)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected a skew-split shuffled join in:\n$plan")
  }
}
