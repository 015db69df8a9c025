package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each implemented operator from SURVEY §2 is registered once, in
  * its module's [[QueryModule.entries]], as its run function together
  * with its DuckDB oracle (column names aliased identically on both
  * sides — the oracle compare sorts columns by name before hashing
  * values). [[queries]] and [[oracleSql]] both derive from that map.
  *
  * A trained entry ([[QueryModule.trained]]) builds its oracle from
  * the model it trains, so its oracle is present in [[oracleSql]]
  * only after that entry has run through [[queries]] in this JVM.
  * Each run records its oracle under the entry's own name: no other
  * entry or training call can change it, and entries may run
  * concurrently.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    graft.queries.BaseQueries,
    graft.queries.SalesQueries,
    graft.queries.ReportQueries,
    graft.queries.JoinQueries,
    graft.queries.ScalarQueries,
    graft.queries.TrainingQueries,
    graft.queries.CurationQueries,
    graft.queries.SelectionQueries,
    graft.queries.StreamQueries,
    graft.queries.MiscQueries)

  /** Oracle SQL of each trained entry, from its latest run. */
  private val trainedSql = new ConcurrentHashMap[String, String]()

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The SURVEY §7.2 end-to-end slice: sales synthesis ->
    * TLQ Transform -> region rollup. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.SalesQueries.qSalesReport(spark, "/root/testdata/sf0.001")

  private val registered: Map[String, (QueryModule#Run, String)] =
    modules.map(_.entries).reduce(_ ++ _)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map { case (name, (run, _)) => name -> run } ++
      modules.flatMap(_.trained).map { case (name, fn) =>
        name -> { (s: SparkSession, dir: String) =>
          val (df, sql) = fn(s, dir)
          trainedSql.put(name, sql)
          df
        }
      }

  /** The entries `names` asks for; all of them when it is empty. An
    * unknown name fails loudly, listing the valid ones: a typo must
    * not run an empty sweep or write an empty dump that reads as
    * healthy. Bench, Verify and Explain all select through here. */
  def select(names: Seq[String]): Set[String] = {
    val known = queries.keySet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty,
      s"unknown entry name(s): ${unknown.mkString(", ")} — " +
        s"valid names: ${known.toSeq.sorted.mkString(", ")}")
    if (names.isEmpty) known else names.toSet
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. */
  def oracleSql: Map[String, String] =
    registered.map { case (name, (_, sql)) => name -> sql } ++
      trainedSql.asScala
}

/** A group of related query entries (one source file per SURVEY area). */
trait QueryModule {
  type Run = (SparkSession, String) => DataFrame

  /** Each static entry, registered once by name: its run function and
    * its oracle SQL. An entry that sets a conf or registers a temp view
    * for its own plan does so on its own fork of the caller's session
    * (`Bridge.cloneSession`), never on the caller's. The exception is
    * `Tables.events`, which sets the parquet `nanosAsLong` reader conf
    * on the session it reads with. */
  def entries: Map[String, (Run, String)]

  /** Entries whose answer depends on a model they train: each returns
    * its frame and its oracle SQL, which embeds the trained model as
    * literals. */
  def trained: Map[String, (SparkSession, String) => (DataFrame, String)] =
    Map.empty
}
