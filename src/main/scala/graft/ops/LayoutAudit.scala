package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** METADATA-ONLY corpus layout audit: per parquet file, the row count
  * and a column's min/max read from FOOTER STATISTICS alone — no data
  * page is fetched anywhere. At 100 TB this is the observability tool
  * behind every data-skipping decision: whether a corpus's files are
  * range-clustered tight enough to prune (footer min/max spans) is
  * answerable for petabytes in seconds, because the probe cost is one
  * footer read per file, distributed over the executors.
  *
  * The probe doubles as a FOOTER-INTEGRITY gate when its output is
  * compared against the same statistics derived from the data (the
  * oracle's job in `q_layout_audit`): a footer whose stats disagree
  * with its rows would silently corrupt every pruning decision made
  * from it — here it hash-mismatches instead.
  */
object LayoutAudit {

  /** One row per data file under `glob`: (file, n_rows, n_row_groups,
    * col_min, col_max) with min/max of long column `column` taken
    * from row-group statistics only. Files whose footer lacks usable
    * stats for the column surface as nulls, never as fabricated
    * bounds. */
  def audit(s: SparkSession, glob: String, column: String): DataFrame = {
    val p = new Path(glob)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(p).toSeq.map(_.getPath)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.toUri.toString).sorted
    require(files.nonEmpty, s"no parquet files match $glob")
    auditFiles(s, files, column)
  }

  /** [[audit]] over an EXPLICIT file list (URIs) — the shape a
    * manifest-driven planner needs: a snapshot table's version names
    * its files directly, no globbing ([[SnapTable.readRange]]'s
    * footer plan, and the commit-time stats that feed
    * [[SnapTable.read]]'s manifest planner). */
  def auditFiles(s: SparkSession, files: Seq[String],
      column: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    require(files.nonEmpty, "no files to audit")
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)
    val nParts = math.max(1,
      math.min(files.size, s.sparkContext.defaultParallelism))
    import s.implicits._
    // stays an RDD->DataFrame end to end: one slim row per FILE,
    // never through the driver — a 100 TB corpus has millions of
    // files, and a collect here would pile them all up driver-side
    s.sparkContext.parallelize(files, nParts).map { pStr =>
      import org.apache.parquet.format.converter.ParquetMetadataConverter
      import org.apache.parquet.hadoop.ParquetFileReader
      val footer = ParquetFileReader.readFooter(
        sconf.value, new Path(new java.net.URI(pStr)),
        ParquetMetadataConverter.NO_FILTER)
      val blocks = footer.getBlocks.asScala.toSeq
      val stats = blocks.flatMap { blk =>
        blk.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .map(_.getStatistics)
          .filter(st => st != null && st.hasNonNullValue)
          .map(st => (st.genericGetMin, st.genericGetMax))
          .collect { case (mn: java.lang.Long, mx: java.lang.Long) =>
            (mn.longValue, mx.longValue)
          }
      }
      val (mn, mx) =
        if (stats.size == blocks.size && stats.nonEmpty)
          (Some(stats.map(_._1).min), Some(stats.map(_._2).max))
        else (None, None) // incomplete stats: null, never a wrong bound
      // keep the partition dir in the key: with partitionBy, file
      // NAMES repeat across partition dirs (same task id + job uuid),
      // so the bare name is not unique within one write job
      (pStr.split('/').takeRight(2).mkString("/"),
        blocks.map(_.getRowCount).sum,
        blocks.size.toLong, mn, mx)
    }.toDF("file", "n_rows", "n_row_groups", "col_min", "col_max")
  }

  /** [[auditFiles]] for SEVERAL columns in ONE footer read per file —
    * the commit-time stats collector ([[SnapTable.commit]] records
    * per-file min/max into the manifest so readers plan
    * manifest-only): one row per (file, column) with usable stats.
    * LONG columns fill (col_min, col_max); STRING/BINARY columns fill
    * (bin_min, bin_max) with the raw footer byte bounds (unsigned
    * lexicographic order — the parquet binary stats order). Columns
    * without complete stats simply emit no row (absence admits, it
    * never excludes). */
  def auditFilesMulti(s: SparkSession, files: Seq[String],
      columns: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    require(files.nonEmpty, "no files to audit")
    require(columns.nonEmpty, "no columns to audit")
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)
    val nParts = math.max(1,
      math.min(files.size, s.sparkContext.defaultParallelism))
    import s.implicits._
    val cols = columns.toIndexedSeq
    s.sparkContext.parallelize(files, nParts).flatMap { pStr =>
      import org.apache.parquet.format.converter.ParquetMetadataConverter
      import org.apache.parquet.hadoop.ParquetFileReader
      val footer = ParquetFileReader.readFooter(
        sconf.value, new Path(new java.net.URI(pStr)),
        ParquetMetadataConverter.NO_FILTER)
      val blocks = footer.getBlocks.asScala.toSeq
      val key = pStr.split('/').takeRight(2).mkString("/")
      cols.flatMap { column =>
        val raw = blocks.flatMap { blk =>
          blk.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .map(_.getStatistics)
            .filter(st => st != null && st.hasNonNullValue)
            .map(st => (st.genericGetMin, st.genericGetMax))
        }
        val longs = raw.collect {
          case (mn: java.lang.Long, mx: java.lang.Long) =>
            (mn.longValue, mx.longValue)
        }
        val bins = raw.collect {
          case (mn: org.apache.parquet.io.api.Binary,
              mx: org.apache.parquet.io.api.Binary) =>
            (mn.getBytes, mx.getBytes)
        }
        if (longs.size == blocks.size && longs.nonEmpty)
          Some((key, column, Some(longs.map(_._1).min),
            Some(longs.map(_._2).max),
            None: Option[Array[Byte]], None: Option[Array[Byte]]))
        else if (bins.size == blocks.size && bins.nonEmpty)
          Some((key, column, None: Option[Long], None: Option[Long],
            Some(bins.map(_._1).min(byteOrd)),
            Some(bins.map(_._2).max(byteOrd))))
        else None // incomplete stats: no row, never a wrong bound
      }
    }.toDF("file", "column", "col_min", "col_max", "bin_min", "bin_max")
  }

  /** Unsigned lexicographic byte order — how parquet orders binary
    * statistics, and therefore the ONLY order manifest string bounds
    * may be compared in. */
  val byteOrd: Ordering[Array[Byte]] = new Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }
}
