package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each implemented operator from SURVEY §2 contributes one entry to
  * [[queries]]; SQL-expressible ones also contribute a DuckDB oracle
  * to [[oracleSql]] (column names aliased identically on both sides —
  * the driver sorts columns by name before hashing values).
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

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _) ++
      modules.flatMap(_.trained).map { case (name, fn) =>
        name -> { (s: SparkSession, dir: String) =>
          val (df, sql) = fn(s, dir)
          trainedSql.put(name, sql)
          df
        }
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_.oracleSql).reduce(_ ++ _) ++ trainedSql.asScala
}

/** A group of related query entries (one source file per SURVEY area). */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]

  /** Entries whose answer depends on a model they train: each returns
    * its frame and its oracle SQL, which embeds the trained model as
    * literals. */
  def trained: Map[String, (SparkSession, String) => (DataFrame, String)] =
    Map.empty
}
