package graft.sources.snap

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.SnapTable

/** DataSourceV2 connector for the [[SnapTable]] snapshot format — the
  * SQL/catalog surface of the kernel (the reference's own query stage
  * is plain SQL over a loaded table:
  * `java_template/src/main/resources/db.properties-empty:4-8`, served
  * at snapshot-table grain):
  *
  * {{{
  *   CREATE TABLE sales USING snap OPTIONS (path '/wh/sales')
  *   SELECT ... FROM sales WHERE day = 7 AND id BETWEEN 10 AND 99
  *   -- time travel
  *   spark.read.format("snap").option("versionAsOf", 3).load(path)
  *   spark.read.format("snap").option("timestampAsOf", ts).load(path)
  * }}}
  *
  * The scan is Spark's OWN vectorized parquet V2 scan
  * ([[ParquetScanBuilder]] → `ParquetScan`) planned over a
  * [[SnapFileIndex]]: pushed filters reach (1) partition pruning on
  * the manifest's Hive segments, (2) per-file min/max pruning on the
  * manifest's recorded stats — both pure driver text, zero query-time
  * footer IO — and (3) parquet row-group pruning inside the surviving
  * files. Whole-stage codegen, column pruning, and AQE all apply
  * unchanged, because the connector adds PLANNING, not execution.
  *
  * SQL writes route THROUGH [[SnapTable.commit]]'s protocol (see
  * [[SnapV2Table.newWriteBuilder]]): `INSERT INTO` = append
  * snapshot, `INSERT OVERWRITE` = overwrite snapshot, with the
  * optimistic claim, standing CHECK, and Hive partitioning all
  * enforced — never a raw file write. Snapshots with live deletion
  * vectors are refused here — materialize them first ([[SnapTable]]
  * OPTIMIZE) or read through the library API, which applies them.
  */
class SnapSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "snap"

  override def supportsExternalMetadata(): Boolean = false

  private def spark = SparkSession.active

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapSource.resolve(spark, options).schema()

  override def inferPartitioning(
      options: CaseInsensitiveStringMap): Array[Transform] =
    SnapSource.resolve(spark, options).partitioning()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    SnapSource.resolve(spark,
      new CaseInsensitiveStringMap(properties))
}

object SnapSource {

  /** Resolved tables [[tables]] keeps. A statement reads a handful of
    * tables; the bound only stops a long-lived JVM from pinning every
    * table (and its session) it ever resolved. */
  private[graft] val MaxTables = 16

  /** Table path + version options → the pinned-version V2 table.
    * Instances cache per (path, resolved version), least recently
    * used first out past [[MaxTables]]: schema inference, `getTable`,
    * and every scan of one SQL statement share one manifest
    * resolution. What a query's scan admitted is read off its
    * executed plan ([[SnapTable.scannedFiles]]). Guarded by itself. */
  private val tables =
    new java.util.LinkedHashMap[String, SnapV2Table](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, SnapV2Table]): Boolean =
        size() > MaxTables
    }

  /** Resolved tables held now (at most [[MaxTables]]). */
  private[graft] def cachedTables: Int = tables.synchronized(tables.size())

  /** Cache key: the FULLY QUALIFIED table uri — the catalog hands
    * paths in varying spellings (bare, `file:`-qualified); one table
    * must resolve to one cached instance. */
  private def keyOf(spark: SparkSession, path: String, v: Int): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    s"${fs.makeQualified(p).toUri}@v$v"
  }

  def resolve(spark: SparkSession,
      options: CaseInsensitiveStringMap): SnapV2Table = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "snap source needs a path option (OPTIONS (path '...'))"))
    val vs = SnapTable.versions(spark, path)
    require(vs.nonEmpty, s"no committed snapshot under $path")
    val version = (Option(options.get("versionAsOf")),
        Option(options.get("timestampAsOf"))) match {
      case (Some(v), _) => v.toInt
      case (None, Some(ts)) =>
        val tsMs = scala.util.Try(ts.toLong).getOrElse(
          java.sql.Timestamp.valueOf(ts).getTime)
        SnapTable.versionAt(spark, path, tsMs).getOrElse(
          throw new IllegalArgumentException(
            s"no snapshot of $path at or before $ts"))
      case _ => vs.last
    }
    require(vs.contains(version),
      s"unknown snapshot version $version of $path (have $vs)")
    val merge = options.getBoolean("mergeSchema", false)
    val pinned = options.containsKey("versionAsOf") ||
      options.containsKey("timestampAsOf")
    val key = keyOf(spark, path, version) +
      (if (merge) "+merge" else "") + (if (pinned) "+pin" else "")
    // resolved outside the lock (it reads the manifest and a footer);
    // a concurrent resolution of the same key keeps the first one in
    tables.synchronized(Option(tables.get(key))).getOrElse {
      val t = new SnapV2Table(spark, path, version, merge, pinned)
      tables.synchronized {
        Option(tables.putIfAbsent(key, t)).getOrElse(t)
      }
    }
  }

  /** DataFrame over the connector (the non-SQL entry point). */
  def load(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val rd = spark.read.format("snap")
    version.foreach(v => rd.option("versionAsOf", v))
    rd.load(path)
  }
}

/** One pinned snapshot version as a V2 [[Table]]: schema = data
  * columns (one staged footer; the `mergeSchema` option reconciles a
  * schema-evolved file mix by name, exactly like
  * [[SnapTable.read]]'s flag) + the typed partition column; scans
  * delegate to Spark's parquet ScanBuilder over the manifest-backed
  * index. */
class SnapV2Table(spark: SparkSession, path: String, version: Int,
    mergeSchema: Boolean = false, pinned: Boolean = false)
  extends Table with SupportsRead with SupportsWrite {

  require(!SnapTable.hasDeletes(spark, path, version),
    s"snapshot v$version of $path carries deletion vectors — " +
      "OPTIMIZE to materialize them, or read via SnapTable.read")

  val index = SnapFileIndex.forVersion(spark, path, version)

  /** Data-file schema (excludes the partition column — Hive staging
    * strips it from the files). */
  val dataSchema: StructType = {
    val files = index.inputFiles
    require(files.nonEmpty, s"empty snapshot v$version of $path")
    if (mergeSchema)
      spark.read.option("mergeSchema", "true")
        .parquet(files.toIndexedSeq: _*).schema
    else spark.read.parquet(files.head).schema
  }

  override def name(): String = s"snap:$path@v$version"

  override def schema(): StructType =
    index.partCol.foldLeft(dataSchema) { case (sc, (c, dt)) =>
      sc.add(c, dt) }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def partitioning(): Array[Transform] =
    index.partCol.map { case (c, _) => Expressions.identity(c) }.toArray

  override def properties(): util.Map[String, String] =
    Map("path" -> path, "version" -> version.toString).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    ParquetScanBuilder(spark, index, schema(), dataSchema, options)

  /** SQL WRITES go THROUGH the snapshot commit protocol — `INSERT
    * INTO` appends a snapshot, `INSERT OVERWRITE` replaces it, both
    * via [[SnapTable.commitRetry]]: optimistic claim, standing CHECK
    * enforcement, Hive partitioning by the table's declared partition
    * column — so a SQL writer gets exactly the guarantees a library
    * writer gets (a violating INSERT is refused with nothing
    * published). Version-pinned tables refuse writes: appending "to
    * the past" through a travel handle would silently target the
    * CURRENT head instead. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      s"refusing to write through a version-pinned read of $path — " +
        "writes always target the current head; open the table " +
        "without versionAsOf/timestampAsOf")
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: Dataset[Row],
                overwrite: Boolean): Unit = {
              val mode =
                if (replace || overwrite) "overwrite" else "append"
              SnapTable.commitRetry(spark, data, path, mode,
                partitionBy = index.partCol.map(_._1))
            }
          }
      }
    }
  }
}
