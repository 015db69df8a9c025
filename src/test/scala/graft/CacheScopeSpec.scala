package graft

import org.apache.spark.sql.functions._
import graft.core.CacheScope
import graft.ops.{Dedup, Mix}

/** Round-6 ADVICE: operators whose returned plan references an
  * internal cache (Mix's base/kept, the dedup shingle indexes)
  * accumulated storage across calls in a long-lived session. The
  * CacheScope contract releases them per entry — these specs prove
  * repeated runs in one JVM leave no cached plans behind.
  *
  * Assertions diff the persistent-RDD KEY SET around each block
  * rather than comparing counts: the shared test session's
  * ContextCleaner asynchronously drops other suites' leftovers, so
  * absolute counts move under us, but a NEW rdd id surviving its
  * scope is exact evidence of a leak. */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 40L).map { i =>
    (i, if (i < 20) "a" else "b", "w " * 9 + "w")
  }.toDF("doc_id", "source", "text")

  private def persistedKeys: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("repeated scoped runs show no storage growth (Verify/Bench shape)") {
    (1 to 3).foreach { i =>
      val before = persistedKeys
      CacheScope.withScope {
        Mix.mix(docs, "text", "doc_id", "source",
          Seq("a" -> 0.5, "b" -> 0.5), 150L, salt = "t").count()
        Mix.mixEpochs(docs, "text", "doc_id", "source",
          Seq("a" -> 0.9), 800L, salt = "t").count()
        Dedup.jaccardPairs(docs, "text", "doc_id").count()
        ()
      }
      val leaked = persistedKeys -- before
      assert(leaked.isEmpty,
        s"run $i: operator caches survived their scope: rdds $leaked")
    }
  }

  test("without a scope, caches behave like plain cache() (caller owns cleanup)") {
    val before = persistedKeys
    val r = Mix.mix(docs, "text", "doc_id", "source",
      Seq("a" -> 0.5, "b" -> 0.5), 150L, salt = "t")
    r.count()
    val added = persistedKeys -- before
    assert(added.nonEmpty) // interactive semantics unchanged
    spark.catalog.clearCache()
    assert((persistedKeys & added).isEmpty)
  }

  test("scopes nest: the inner scope releases only its own caches") {
    val before = persistedKeys
    CacheScope.withScope {
      Mix.mix(docs, "text", "doc_id", "source",
        Seq("a" -> 0.5), 150L, salt = "t").count()
      val outerAdded = persistedKeys -- before
      assert(outerAdded.nonEmpty)
      val preInner = persistedKeys
      CacheScope.withScope {
        Dedup.jaccardPairs(docs, "text", "doc_id").count()
        ()
      }
      // inner's additions released, outer's still held
      assert((persistedKeys -- preInner).isEmpty)
      assert((persistedKeys & outerAdded) === outerAdded)
      ()
    }
    assert((persistedKeys -- before).isEmpty)
  }

  test("a failed release is logged at WARN with its exception, not thrown") {
    // a JVM holds one SparkContext, so the session this test stops is
    // a throwaway one in a child JVM (StoppedScopeProbe below)
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = jvmArgs.zip(jvmArgs.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.StoppedScopeProbe")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    val lines = out.linesIterator.toSeq
    assert(lines.contains("probe: scope returned"), out)
    assert(lines.exists(l => l.startsWith("probe: WARN CacheScope could not unpersist") &&
      !l.endsWith("thrown=none")), out)
  }
}

/** Child-JVM half of the failed-release test: a scoped cache that is
  * materialized, then its session stopped inside the scope, so the
  * release at scope end fails. Prints what CacheScope logged. */
object StoppedScopeProbe {
  import org.apache.logging.log4j.LogManager
  import org.apache.logging.log4j.core.{LogEvent, Logger}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  def main(args: Array[String]): Unit = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage} " +
          s"thrown=${Option(e.getThrown).fold("none")(_.getClass.getName)}")
        ()
      }
    }
    val spark = graft.core.SessionTune.session(1)
    // after the session: starting Spark reloads the log configuration
    appender.start()
    LogManager.getLogger("graft.core.CacheScope").asInstanceOf[Logger]
      .addAppender(appender)
    CacheScope.withScope {
      CacheScope.cache(spark.range(10).toDF("id")).count()
      spark.stop()
    }
    println("probe: scope returned")
    seen.forEach(l => println(s"probe: $l"))
  }
}
