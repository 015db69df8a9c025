package graft.sources.snap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache, NoopCache, PartitionDirectory, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.{LayoutAudit, SnapTable}

/** MANIFEST-BACKED [[PartitioningAwareFileIndex]] — the piece that
  * lets Spark's OWN planner consume a [[SnapTable]] snapshot as a
  * first-class table (the Delta `TahoeFileIndex` / Iceberg
  * scan-planning shape): the file listing, per-file sizes, partition
  * identities, AND per-file column bounds all come from manifest TEXT
  * the caller already resolved — zero query-time filesystem
  * listings, zero footer probes.
  *
  * Planning composes three prunings, all driver-side metadata:
  *  1. PARTITION pruning — Spark evaluates the query's partition
  *     filters against [[partitionSpec]] (inherited
  *     [[PartitioningAwareFileIndex.listFiles]]), whose values parse
  *     from the manifest paths' Hive segments, typed by the commit's
  *     `#part:` header;
  *  2. MANIFEST-STATS pruning — [[listFiles]] additionally proves
  *     files out against the data filters using the bounds the commit
  *     recorded (`statsCols`): a file whose recorded [min,max] cannot
  *     intersect the predicate never reaches the scan (absence
  *     ADMITS — mixed-provenance tables degrade to correct);
  *  3. parquet row-group pruning — the surviving files' footers,
  *     pushed by the normal parquet reader at execution.
  *
  * The same index serves BOTH surfaces: the V1 `HadoopFsRelation`
  * path (every [[SnapTable.read]], flat or partitioned — one relation
  * per uniform file set) and the DataSourceV2 `ParquetScanBuilder`
  * path ([[SnapSource]] — `spark.sql` over the snapshot with pushdown
  * reaching this planner). What a plan admitted is read back off the
  * executed plan ([[SnapTable.scannedFiles]]), never off the index.
  *
  * `entries` must be uniform: every file carries `partCol`'s Hive
  * segment, or `partCol` is None. Scale: O(files) manifest lines on
  * the driver, the same order as every table format's planning cost;
  * file statuses are synthesized from recorded `#bytes` (one
  * `getFileStatus` fallback per legacy stat-less file only).
  */
class SnapFileIndex(
    spark: SparkSession,
    val table: String,
    val entries: Seq[SnapTable.FileEntry],
    val partCol: Option[(String, DataType)])
  extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {

  private val tableDir = new Path(table)
  private val fs =
    tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualifiedDir = fs.makeQualified(tableDir)

  private def qualify(rel: String): Path =
    fs.makeQualified(new Path(tableDir, rel))

  /** (qualified path, entry) — status synthesized from the manifest's
    * recorded size; only legacy stat-less lines touch the
    * filesystem. */
  private val statuses: Seq[(FileStatus, SnapTable.FileEntry)] =
    entries.map { e =>
      val p = qualify(e.path)
      val st = e.sizeBytes match {
        case Some(len) =>
          new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, p)
        case None => fs.getFileStatus(p)
      }
      (st, e)
    }

  private val byPath: Map[Path, SnapTable.FileEntry] =
    statuses.map { case (st, e) => st.getPath -> e }.toMap

  override val rootPaths: Seq[Path] = Seq(qualifiedDir)

  /** The manifest's files, verbatim. (The inherited implementation
    * resolves root paths against the leaf-dir map — it would find
    * nothing, because snapshot data nests under per-commit batch
    * dirs, not under the table root.) */
  override def allFiles(): Seq[FileStatus] = statuses.map(_._1)

  override val leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach { case (st, _) => m += st.getPath -> st }
    m
  }

  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_._1.getPath.getParent)
      .map { case (d, fsts) => d -> fsts.map(_._1).toArray }

  /** Partition value string → typed internal value (Hive sentinel →
    * null), under the session zone for date/timestamp columns. */
  private def internalValue(w: String, dt: DataType): Any =
    if (w == SnapTable.NullPartition) null
    else Cast(Literal(UTF8String.fromString(w), StringType), dt,
      Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()

  private lazy val spec: PartitionSpec = partCol match {
    case None => PartitionSpec.emptySpec
    case Some((c, dt)) =>
      // one PartitionPath per LEAF DIRECTORY (batch × value), exactly
      // like InMemoryFileIndex — several dirs may share a value, and
      // listFiles unions their files under it
      val parts = statuses.groupBy(_._1.getPath.getParent).toSeq
        .map { case (dir, fsts) =>
          val w = fsts.head._2.partitionValues(c)
          PartitionPath(
            new GenericInternalRow(Array[Any](internalValue(w, dt))),
            dir)
        }
      PartitionSpec(StructType(Seq(StructField(c, dt))), parts)
  }

  override def partitionSpec(): PartitionSpec = spec

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    super.listFiles(partitionFilters, dataFilters).map { pd =>
      PartitionDirectory(pd.values, pd.files.filter { f =>
        byPath.get(f.getPath).forall(e =>
          dataFilters.forall(admits(e, _)))
      })
    }.filter(_.files.nonEmpty)

  /** Can `e`'s recorded bounds satisfy `filter`? Conservative
    * three-valued pruning: only shapes this planner PROVES are
    * handled (comparisons and IN against literals, AND/OR); anything
    * else — unknown expressions, casts, stat-less files — ADMITS. */
  private def admits(e: SnapTable.FileEntry, filter: Expression): Boolean =
    filter match {
      case And(l, r) => admits(e, l) && admits(e, r)
      case Or(l, r) => admits(e, l) || admits(e, r)
      case EqualTo(a: Attribute, Literal(v, _)) => admitEq(e, a.name, v)
      case EqualTo(Literal(v, _), a: Attribute) => admitEq(e, a.name, v)
      case GreaterThan(a: Attribute, Literal(v, _)) =>
        admitCmp(e, a.name, v, mxGt = true)
      case GreaterThanOrEqual(a: Attribute, Literal(v, _)) =>
        admitCmp(e, a.name, v, mxGe = true)
      case LessThan(a: Attribute, Literal(v, _)) =>
        admitCmp(e, a.name, v, mnLt = true)
      case LessThanOrEqual(a: Attribute, Literal(v, _)) =>
        admitCmp(e, a.name, v, mnLe = true)
      case GreaterThan(Literal(v, _), a: Attribute) =>
        admitCmp(e, a.name, v, mnLt = true)
      case GreaterThanOrEqual(Literal(v, _), a: Attribute) =>
        admitCmp(e, a.name, v, mnLe = true)
      case LessThan(Literal(v, _), a: Attribute) =>
        admitCmp(e, a.name, v, mxGt = true)
      case LessThanOrEqual(Literal(v, _), a: Attribute) =>
        admitCmp(e, a.name, v, mxGe = true)
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(l => admitEq(e, a.name, l.asInstanceOf[Literal].value))
      case _ => true
    }

  private def longOf(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  private def admitEq(e: SnapTable.FileEntry, col: String, v: Any)
      : Boolean =
    longOf(v) match {
      case Some(l) => e.stats.get(col)
        .forall { case (mn, mx) => mn <= l && l <= mx }
      case None => v match {
        case u: UTF8String => e.strStats.get(col).forall { case (mn, mx) =>
          val b = u.getBytes
          val ord = LayoutAudit.byteOrd
          ord.lteq(SnapTable.unb64(mn), b) && ord.gteq(SnapTable.unb64(mx), b)
        }
        case _ => true
      }
    }

  /** One-sided comparison against recorded bounds: exactly one flag
    * is set, naming which bound must clear the literal. */
  private def admitCmp(e: SnapTable.FileEntry, col: String, v: Any,
      mxGt: Boolean = false, mxGe: Boolean = false,
      mnLt: Boolean = false, mnLe: Boolean = false): Boolean =
    longOf(v) match {
      case Some(l) => e.stats.get(col).forall { case (mn, mx) =>
        if (mxGt) mx > l else if (mxGe) mx >= l
        else if (mnLt) mn < l else mn <= l
      }
      case None => v match {
        case u: UTF8String => e.strStats.get(col).forall { case (mn, mx) =>
          // truncated bounds: recorded min <= true min (prefix),
          // recorded max >= true max (increment) — conservative on
          // every one-sided test below
          val b = u.getBytes
          val ord = LayoutAudit.byteOrd
          val mnB = SnapTable.unb64(mn); val mxB = SnapTable.unb64(mx)
          if (mxGt || mxGe) ord.gteq(mxB, b) else ord.lteq(mnB, b)
        }
        case _ => true
      }
    }

  override def refresh(): Unit = ()

  /** Structural, like `InMemoryFileIndex`'s root-path equality: two
    * reads of the same file set are the same relation, so cache
    * lookups and exchange reuse match them. */
  override def equals(o: Any): Boolean = o match {
    case x: SnapFileIndex => x.qualifiedDir == qualifiedDir &&
      x.entries == entries && x.partCol == partCol
    case _ => false
  }

  override def hashCode: Int = (qualifiedDir, entries, partCol).hashCode

  override def sizeInBytes: Long = statuses.map(_._1.getLen).sum

  override def inputFiles: Array[String] =
    statuses.map(_._1.getPath.toString).toArray

  override def metadataOpsTimeNs: Option[Long] = None

  override def partitionSchema: StructType = partCol match {
    case Some((c, dt)) => StructType(Seq(StructField(c, dt)))
    case None => StructType(Nil)
  }
}

object SnapFileIndex {

  /** The index over ALL of snapshot `version` — what the V2 connector
    * plans over. Refuses a mixed partitioned/loose history: one
    * relation needs a uniform layout, and [[SnapTable.read]] is what
    * unions the uniform subsets. */
  def forVersion(spark: SparkSession, table: String,
      version: Int): SnapFileIndex = {
    val entries = SnapTable.fileEntries(spark, table, version)
    val partCol = SnapTable.partColOf(spark, table, version, entries)
    partCol.foreach { case (c, _) =>
      require(entries.forall(_.partitionValues.contains(c)),
        s"snapshot v$version of $table mixes $c-partitioned and " +
          "unpartitioned files — the relation path needs a uniform " +
          "layout; read the mixed snapshot via SnapTable.read")
    }
    new SnapFileIndex(spark, table, entries, partCol)
  }
}
