package coldwarm

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call into a layer: `name` is `<layer>.<stage>`. */
case class Span(pass: Int, name: String, parent: String, startNs: Long, endNs: Long)

/** Task-level counters summed over the jobs of one span. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var fetchWaitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** Spans around the benchmark's calls into the library.
  *
  * In an untraced pass a span is just its body and [[materialize]] is the
  * identity, so the pass runs the plan the library builds. In a traced
  * pass every span sets a Spark job group, so [[JobGroupListener]] can
  * charge each job's tasks to it, and [[materialize]] checkpoints a
  * stage's output so that the stage is timed on its own. That changes
  * the plan, which is why end-to-end figures come from untraced passes
  * only. */
final class Tracer(spark: SparkSession, installListener: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var pass = 0
  private var tracing = false
  private val listener = new JobGroupListener
  if (installListener) spark.sparkContext.addSparkListener(listener)

  def on: Boolean = tracing

  /** Per-pass counts a stage reports about its own work (traced only). */
  val notes = mutable.Map.empty[(Int, String), Double]

  def startPass(i: Int, traced: Boolean): Unit = {
    pass = i
    tracing = traced
  }

  def note(name: String, value: => Double): Unit =
    if (on) notes((pass, name)) = value

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val group = s"p$pass:$name"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(pass, name, "pass", t0, System.nanoTime())
        spark.sparkContext.clearJobGroup()
      }
    }

  def materialize(df: DataFrame): DataFrame =
    if (on) df.localCheckpoint(eager = true) else df

  /** Counters of the span `name` in pass `p` (after the bus drained). */
  def counters(p: Int, name: String): SpanCounters = {
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    listener.byGroup.getOrElse(s"p$p:$name", new SpanCounters)
  }
}

/** Charges jobs and task metrics to the job group active at job start. */
final class JobGroupListener extends SparkListener {
  val byGroup = mutable.Map.empty[String, SpanCounters]
  private val stageGroup = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        byGroup.getOrElseUpdate(g, new SpanCounters).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byGroup.getOrElseUpdate(g, new SpanCounters)
      c.tasks += 1
      c.busyMs += m.executorRunTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
  }
}
