package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{CacheScope, Plans, Tables}
import graft.functions.NativeAgg
import graft.ops.Dedup
import graft.queries.TrainingQueries

/** The sketch operators' plan shape: each signature or counter
  * aggregate is one `HashAggregateExec` carrying one aggregate
  * function, and no whole-stage class of the dedup chain reaches
  * [[MaxSourceLines]] lines. The k-expression spellings plan 64 or 60
  * functions into one aggregate, whose generated class was 6,975 lines
  * in the keep-list chain. */
class SketchPlanSpec extends SparkSpec {

  private val MaxSourceLines = 1500

  /** The executed plan of every Dataset action `run` makes. */
  private def executed(run: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { run; Bridge.drainListenerBus(spark) }
    finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** `plans` and every cached plan they read, each once. */
  private def roots(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, SparkPlan]
    def visit(p: SparkPlan): Unit =
      if (!seen.contains(System.identityHashCode(p))) {
        seen(System.identityHashCode(p)) = p
        Plans.nodes(p).foreach {
          case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
          case _ =>
        }
      }
    plans.foreach(visit)
    seen.values.toSeq
  }

  private def aggregates(plans: Seq[SparkPlan]): Seq[BaseAggregateExec] =
    roots(plans).flatMap(Plans.nodes).collect { case a: BaseAggregateExec => a }

  private def oneFunction(a: BaseAggregateExec): Boolean =
    a.isInstanceOf[HashAggregateExec] && a.aggregateExpressions.size == 1

  private def largestSource(plans: Seq[SparkPlan]): Int =
    roots(plans).flatMap(codegenStringSeq).map(_._2.linesIterator.size).max

  private def run(df: => DataFrame): Seq[SparkPlan] =
    executed(CacheScope.withScope(df.collect()))

  test("minhashSignatures: one single-function hash aggregate, small generated classes") {
    val sh = Dedup.wordShingles(Tables.documents(spark, sf), "text", "doc_id")
    val plans = run(Dedup.minhashSignatures(sh, 64))
    val aggs = aggregates(plans)
    assert(aggs.nonEmpty)
    assert(aggs.forall(oneFunction), aggs.map(_.simpleString(200)))
    val lines = largestSource(plans)
    info(s"largest whole-stage source: $lines lines")
    assert(lines < MaxSourceLines)
  }

  test("simhash: one single-function hash aggregate, small generated classes") {
    val plans = run(Dedup.simhash(Tables.documents(spark, sf), "text", "doc_id"))
    val aggs = aggregates(plans)
    assert(aggs.nonEmpty)
    assert(aggs.forall(oneFunction), aggs.map(_.simpleString(200)))
    val lines = largestSource(plans)
    info(s"largest whole-stage source: $lines lines")
    assert(lines < MaxSourceLines)
  }

  test("keepFrame: the signature fold is a single-function hash aggregate, no class reaches 1,500 lines") {
    val plans = run(TrainingQueries.keepFrame(Tables.documents(spark, sf)))
    val folds = aggregates(plans).filter(
      _.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[NativeAgg]))
    assert(folds.nonEmpty)
    assert(folds.forall(oneFunction), folds.map(_.simpleString(200)))
    val lines = largestSource(plans)
    info(s"largest whole-stage source: $lines lines")
    assert(lines < MaxSourceLines)
  }
}
