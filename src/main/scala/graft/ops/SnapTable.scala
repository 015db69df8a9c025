package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.snap.SnapFileIndex

/** A committer lost the optimistic-concurrency race: another writer
  * claimed the same version first. The loser's staging is already
  * reclaimed; callers re-derive from the new head and retry
  * ([[SnapTable.commitRetry]] is that loop). */
class ConcurrentCommitException(msg: String)
  extends java.io.IOException(msg)

/** Snapshot-versioned parquet table — the table-format kernel
  * (Delta/Iceberg-style) reduced to its load-bearing ideas:
  *
  *  1. readers see only what a MANIFEST names. Data files land first
  *     under a staging directory UNIQUE to the committing attempt
  *     (`data/b<v>-<nonce>/`); the manifest commits LAST by an atomic
  *     filesystem rename. A crash anywhere before the rename leaves an
  *     orphaned staging directory no reader ever lists — the same
  *     marker-last contract the streaming drains use
  *     ([[graft.streaming.Drain]]), here giving BATCH
  *     writers snapshot isolation. The nonce means two writers racing
  *     the same version NEVER share a staging path: the loser reclaims
  *     exactly its own files, the winner's manifest references exactly
  *     its own — no cross-deletion in either direction.
  *  2. a snapshot never rewrites history: `append` writes a manifest
  *     holding only its NEW files plus a `#base:<prev>` pointer (the
  *     Iceberg manifest-list shape — commit cost is O(new files), not
  *     O(total files), so a long-lived ingestion drain's manifests
  *     don't grow with drain age); `overwrite` starts a fresh
  *     self-contained list. Readers resolve the base chain; TIME
  *     TRAVEL is just resolving an older manifest.
  *  3. [[vacuum]] bounds both history and the chain: before retiring
  *     pre-horizon manifests it materializes the oldest KEPT version's
  *     full file list as a `checkpoint-v*.txt` sidecar (the Delta
  *     checkpoint move), so no retained read ever chases a retired
  *     manifest — and the tag scan / chain walk depth stays O(keep).
  *
  *  4. manifests can carry per-file MIN/MAX for declared stats
  *     columns (collected once, at commit, over only the fresh
  *     files): a selective read — [[read]] then `.filter` — then
  *     plans MANIFEST-ONLY through one planner ([[scan]] over
  *     [[graft.sources.snap.SnapFileIndex]]) — the Iceberg
  *     min/max-stats shape, which at 100 TB is the difference between
  *     a metadata decision and a million footer probes per query;
  *     [[scannedFiles]] reads back the files a plan admitted.
  *
  * Scale: data files are written/read fully distributed; only
  * manifests — O(new files per commit) text lines — touch the driver.
  */
object SnapTable {

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifest(table: String, v: Int) =
    new Path(table, f"manifest-v$v%05d.txt")

  private def checkpoint(table: String, v: Int) =
    new Path(table, f"checkpoint-v$v%05d.txt")

  private val ManifestName = """manifest-v(\d+)\.txt""".r
  private val CheckpointName = """checkpoint-v(\d+)\.txt""".r

  /** Committed versions, ascending (manifest files are the source of
    * truth — staged data without a manifest is invisible). */
  def versions(s: SparkSession, table: String): Seq[Int] = {
    val dir = new Path(table)
    val fs = fsOf(s, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toInt }.sorted
  }

  private def readSmall(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** First line only — enough to answer "what tag, if any, does this
    * manifest carry" without reading its file list. */
  private def headerLine(fs: FileSystem, p: Path): Option[String] = {
    val in = fs.open(p)
    try Option(new java.io.BufferedReader(
      new java.io.InputStreamReader(in, "UTF-8")).readLine())
    finally in.close()
  }

  /** Hive's null-partition directory name: `partitionBy` writes a
    * null partition value as this sentinel segment. [[FileEntry
    * .partitionValues]] surfaces it VERBATIM (a map can't hold null);
    * the scan's partition spec types it as NULL. */
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** One manifest data line: a relative file path plus the per-file
    * column bounds the committer recorded (empty when the commit ran
    * without stats columns — absence ADMITS on every skip decision,
    * it never excludes). This is the Iceberg/Delta min-max stats
    * shape: at 100 TB the difference between planning a selective
    * read from manifest lines and a million footer probes. */
  final case class FileEntry(path: String,
      stats: Map[String, (Long, Long)],
      sizeBytes: Option[Long] = None,
      strStats: Map[String, (String, String)] = Map.empty) {
    /** Hive-style partition values parsed from the path's `k=v`
      * directory segments (a partitioned commit stages under
      * `data/b<v>-<nonce>/<col>=<val>/…`) — the manifest line IS the
      * partition index, no extra metadata needed. Values are
      * UNESCAPED back to what the committer wrote (Spark's
      * `partitionBy` percent-escapes `:`/`%`/space/… in the path, the
      * Hive escaping contract), so callers match against RAW values;
      * a null value surfaces as the verbatim [[NullPartition]]
      * sentinel. */
    def partitionValues: Map[String, String] =
      path.split('/').iterator.filter(_.contains('='))
        .map { seg =>
          val i = seg.indexOf('=')
          val raw = seg.substring(i + 1)
          val v = if (raw == NullPartition) raw
            else org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(raw)
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.substring(0, i)) -> v
        }.toMap
  }

  /** Manifest-line spelling of an entry:
    * `path<TAB>#bytes=N;col=min..max[;col=min..max]` (bare path when
    * nothing recorded — old manifests parse unchanged). The size
    * comes free from the staging listing (Iceberg manifests record it
    * too) and is what size-targeted compaction plans from
    * ([[optimizeSized]]) without ever listing the filesystem. */
  def entryLine(e: FileEntry): String = {
    val segs = e.sizeBytes.map(n => s"#bytes=$n").toSeq ++
      e.stats.toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s"$c=$mn..$mx" } ++
      e.strStats.toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s"$c=s:$mn..$mx" }
    if (segs.isEmpty) e.path else e.path + "\t" + segs.mkString(";")
  }

  private[graft] def parseEntry(line: String): FileEntry = {
    val i = line.indexOf('\t')
    if (i < 0) FileEntry(line, Map.empty)
    else {
      var size: Option[Long] = None
      val stats = Map.newBuilder[String, (Long, Long)]
      val strs = Map.newBuilder[String, (String, String)]
      line.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
        .foreach { kv =>
          if (kv.startsWith("#bytes="))
            size = Some(kv.stripPrefix("#bytes=").toLong)
          else {
            val eq = kv.indexOf('=')
            val v = kv.substring(eq + 1)
            if (v.startsWith("s:")) {
              val body = v.stripPrefix("s:")
              val dd = body.indexOf("..")
              strs += kv.substring(0, eq) ->
                (body.substring(0, dd), body.substring(dd + 2))
            } else {
              val dd = v.indexOf("..")
              stats += kv.substring(0, eq) ->
                (v.substring(0, dd).toLong, v.substring(dd + 2).toLong)
            }
          }
        }
      FileEntry(line.substring(0, i), stats.result(), size,
        strs.result())
    }
  }

  private def pathOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** Raw data LINES of snapshot `v` (path + recorded stats), resolved
    * through the `#base:` chain with checkpoint sidecars
    * short-circuiting the walk. '#'-prefixed lines are headers, not
    * files. */
  private def resolvedLines(s: SparkSession, table: String,
      v: Int): Seq[String] = {
    val fs = fsOf(s, new Path(table))
    // walk the chain oldest-last, collecting each hop's fresh files;
    // a checkpoint at any hop IS that hop's full resolved list
    var hop = v
    var acc = List.empty[Seq[String]]
    var done = false
    while (!done) {
      val ck = checkpoint(table, hop)
      if (fs.exists(ck)) {
        acc ::= readSmall(fs, ck).filterNot(_.startsWith("#"))
        done = true
      } else {
        val lines = readSmall(fs, manifest(table, hop))
        acc ::= lines.filterNot(_.startsWith("#"))
        lines.find(_.startsWith("#base:"))
          .map(_.stripPrefix("#base:").toInt) match {
          case Some(b) => hop = b
          case None => done = true
        }
      }
    }
    acc.flatten
  }

  /** Relative data-file paths of snapshot `v`. */
  def files(s: SparkSession, table: String, v: Int): Seq[String] =
    resolvedLines(s, table, v).map(pathOf)

  /** DELETION-VECTOR sidecar paths of snapshot `v` (`#dv:` lines) —
    * position-delete parquet files the read path anti-joins against
    * ([[commitDelete]]). Resolved through the same chain/checkpoint
    * walk as file lists. */
  def dvFiles(s: SparkSession, table: String, v: Int): Seq[String] = {
    val fs = fsOf(s, new Path(table))
    var hop = v
    var acc = List.empty[Seq[String]]
    var done = false
    while (!done) {
      val ck = checkpoint(table, hop)
      val lines =
        if (fs.exists(ck)) { done = true; readSmall(fs, ck) }
        else {
          val ls = readSmall(fs, manifest(table, hop))
          ls.find(_.startsWith("#base:"))
            .map(_.stripPrefix("#base:").toInt) match {
            case Some(b) => hop = b
            case None => done = true
          }
          ls
        }
      acc ::= lines.filter(_.startsWith("#dv:"))
        .map(_.stripPrefix("#dv:"))
    }
    acc.flatten.distinct
  }

  /** Whether snapshot `v` carries LIVE deletion vectors — surfaces a
    * read path that would silently include deleted rows (the V2
    * connector refuses such snapshots; [[read]] applies them). */
  def hasDeletes(s: SparkSession, table: String, v: Int): Boolean =
    dvFiles(s, table, v).nonEmpty

  /** Files of snapshot `v` WITH their recorded column bounds — what a
    * manifest-only planner reads ([[scan]], rewrite planning). */
  def fileEntries(s: SparkSession, table: String,
      v: Int): Seq[FileEntry] =
    resolvedLines(s, table, v).map(parseEntry)

  /** The version already committed under `tag`, if any. Newest-first
    * HEADER-ONLY scan with early exit: a replayed tag is always near
    * the head (the streaming replay window), so the hit path reads
    * O(1) first lines; the miss path is bounded by the retention
    * horizon once [[vacuum]] runs on the drain's cadence — the scan
    * never touches a file list. */
  def taggedVersion(s: SparkSession, table: String,
      tag: String): Option[Int] = {
    val fs = fsOf(s, new Path(table))
    val want = s"#tag:$tag"
    versions(s, table).reverseIterator.find(v =>
      headerLine(fs, manifest(table, v)).contains(want))
  }

  /** Register a STANDING CHECK constraint: `predicate` (a SQL boolean
    * expression over the table's columns) is enforced at EVERY
    * subsequent commit — the write-audit-publish gate made permanent
    * table metadata (the Delta CHECK-constraint surface). SQL CHECK
    * semantics: a row violates only when the predicate is FALSE
    * (null passes). A violating commit reclaims its staging and
    * publishes NOTHING. Stored as an atomically-renamed sidecar;
    * pass null/empty via [[clearCheck]] to drop it. */
  def setCheck(s: SparkSession, table: String, predicate: String): Unit = {
    require(predicate.trim.nonEmpty, "empty CHECK predicate")
    val fs = fsOf(s, new Path(table))
    fs.mkdirs(new Path(table))
    val tmp = new Path(table, ".check.txt.tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write((predicate + "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(table, "check.txt")
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"failed to install CHECK on $table")
  }

  /** The standing CHECK predicate, if any. */
  def checkOf(s: SparkSession, table: String): Option[String] = {
    val fs = fsOf(s, new Path(table))
    val p = new Path(table, "check.txt")
    if (fs.exists(p)) readSmall(fs, p).headOption.filter(_.nonEmpty)
    else None
  }

  def clearCheck(s: SparkSession, table: String): Unit =
    fsOf(s, new Path(table)).delete(new Path(table, "check.txt"), false)

  /** A commit refused by the table's standing CHECK constraint —
    * nothing was published; the staging is already reclaimed. */
  class CheckViolationException(msg: String)
    extends IllegalArgumentException(msg)

  /** TIME TRAVEL BY TIMESTAMP: the latest version whose commit
    * instant (the `#ts:` header every commit writes) is at or before
    * `tsMs` — Delta's `timestampAsOf` / Iceberg's as-of-time scan,
    * resolved from manifest HEADERS only (newest-first, early exit).
    * The instant is recorded in the manifest rather than taken from
    * file mtimes, so copies/restores/filesystems without stable
    * mtimes don't corrupt history (the NoMtimeFileSystem lesson).
    * None when the table is empty or every commit is newer. Versions
    * missing the header (pre-recording history) are treated as
    * infinitely old — they match any timestamp, never block a newer
    * match. */
  def versionAt(s: SparkSession, table: String,
      tsMs: Long): Option[Int] =
    versions(s, table).reverseIterator.find { v =>
      commitTimeMs(s, table, v).forall(_ <= tsMs)
    }

  /** The commit instant recorded with version `v` (None for
    * pre-recording history). Header-only read. */
  def commitTimeMs(s: SparkSession, table: String,
      v: Int): Option[Long] = {
    val fs = fsOf(s, new Path(table))
    readSmall(fs, manifest(table, v)).takeWhile(_.startsWith("#"))
      .find(_.startsWith("#ts:")).map(_.stripPrefix("#ts:").toLong)
  }

  /** `#part:<col>=<catalogType>` header for a partitioned commit —
    * the DECLARED partition column type rides in the manifest, so
    * the scan types the Hive-path value by it instead of degrading a
    * long/date partition column to string. */
  private def partHeader(df: DataFrame,
      partitionBy: Option[String]): Seq[String] =
    partitionBy.toSeq.map { p =>
      s"#part:$p=${df.schema(p).dataType.catalogString}" }

  private def parsePartHeader(h: String)
      : (String, org.apache.spark.sql.types.DataType) = {
    val body = h.stripPrefix("#part:")
    val i = body.indexOf('=')
    (body.substring(0, i),
      org.apache.spark.sql.types.DataType.fromDDL(body.substring(i + 1)))
  }

  /** The partition column and DECLARED type of snapshot `v`, resolved
    * through the `#base:` chain exactly like file lists (checkpoints
    * carry the header across a vacuumed horizon). None for
    * unpartitioned tables and pre-recording history — callers fall
    * back to string, the Hive-path native type. Header-only reads. */
  def partSpecOf(s: SparkSession, table: String,
      v: Int): Option[(String, org.apache.spark.sql.types.DataType)] = {
    val fs = fsOf(s, new Path(table))
    var hop = v
    while (true) {
      val heads = readSmall(fs, manifest(table, hop))
        .takeWhile(_.startsWith("#"))
      heads.find(_.startsWith("#part:")) match {
        case Some(h) => return Some(parsePartHeader(h))
        case None =>
          val base = heads.find(_.startsWith("#base:"))
            .map(_.stripPrefix("#base:").toInt)
          val ck = checkpoint(table, hop)
          if (fs.exists(ck))
            return readSmall(fs, ck).takeWhile(_.startsWith("#"))
              .find(_.startsWith("#part:")).map(parsePartHeader)
          base match {
            case Some(b) => hop = b
            case None => return None
          }
      }
    }
    None
  }

  /** The partition column `entries` name in their Hive path segments,
    * typed by version `v`'s `#part:` header (string for pre-header
    * history). None when no entry is partitioned. */
  private[graft] def partColOf(s: SparkSession, table: String, v: Int,
      entries: Seq[FileEntry]): Option[(String, DataType)] =
    entries.flatMap(_.partitionValues.keys).headOption.map { c =>
      c -> partSpecOf(s, table, v).filter(_._1 == c)
        .fold[DataType](StringType)(_._2)
    }

  /** The tag committed with version `v`, if any — one header line
    * read, never a file list (what a CDC consumer reads to learn its
    * own cursor from the MV head: the newest commit's tag IS the max
    * consumed source version). */
  def tagOf(s: SparkSession, table: String, v: Int): Option[String] = {
    val fs = fsOf(s, new Path(table))
    headerLine(fs, manifest(table, v))
      .filter(_.startsWith("#tag:")).map(_.stripPrefix("#tag:"))
  }

  /** Idempotent tagged commit — the exactly-once primitive for
    * streaming replay: if `tag` already committed, nothing is staged
    * and the existing version returns; otherwise a normal [[commit]]
    * whose manifest carries the tag atomically with its file list
    * (a replayed micro-batch can never append its rows twice, because
    * the tag and the files become visible in the same rename). Losing
    * a commit race retries with a fresh head — and re-checks the tag
    * each attempt, so a zombie writer landing the SAME tag between
    * this writer's scan and its claim surfaces as "already committed",
    * never as a double append ([[commit]] scans tags from the same
    * listing that derives its claim version, and claim is atomic on
    * that version). */
  def commitIfAbsent(s: SparkSession, df: DataFrame, table: String,
      mode: String, tag: String, statsCols: Seq[String] = Nil,
      partitionBy: Option[String] = None,
      tagScanDepth: Int = Int.MaxValue): Int =
    commitRetry(s, df, table, mode, Some(tag),
      statsCols = statsCols, partitionBy = partitionBy,
      tagScanDepth = tagScanDepth)

  /** Bounded optimistic retry around [[commit]]: on losing a commit
    * race, re-derive from the new head (the carried file pointer and
    * the claim version are both re-read inside commit) and try again.
    * This is commit liveness for CONCURRENT committers — both of two
    * racing appends land, as consecutive versions, with no staging
    * leaked (each attempt stages under its own nonce and reclaims it
    * on loss). `df` re-executes per attempt; it must be deterministic
    * or the caller accepts last-attempt semantics. */
  def commitRetry(s: SparkSession, df: DataFrame, table: String,
      mode: String, tag: Option[String] = None,
      attempts: Int = 8, statsCols: Seq[String] = Nil,
      partitionBy: Option[String] = None,
      tagScanDepth: Int = Int.MaxValue): Int = {
    require(attempts >= 1, "commitRetry needs at least one attempt")
    var left = attempts
    while (true) {
      try return commit(s, df, table, mode, tag,
        statsCols = statsCols, partitionBy = partitionBy,
        tagScanDepth = tagScanDepth)
      catch {
        case e: ConcurrentCommitException =>
          left -= 1
          if (left == 0) throw e
          // tiny deterministic-ish backoff: losers re-list immediately
          // anyway; this just de-synchronizes tight loops
          Thread.sleep(5L + scala.util.Random.nextInt(20))
      }
    }
    -1 // unreachable
  }

  /** Commit `df` as the next snapshot of `table` and return its
    * version. `mode` is "overwrite" (snapshot = df) or "append"
    * (snapshot = previous snapshot's files + df's — recorded as a
    * `#base:` pointer, no list copying). If `tag` is given and already
    * committed, returns the existing version WITHOUT staging (checked
    * against the same listing that derives the claim version, so an
    * interleaved same-tag commit can only make this writer's claim
    * fail loudly, never double-append).
    *
    * WRITE-AUDIT-PUBLISH: `audit` (when given) runs against a read of
    * the STAGED files — exactly the bytes that would publish, after
    * every write-path transform — between staging and the claim. An
    * audit that throws aborts the commit: the staging is reclaimed
    * and NOTHING becomes visible (readers never saw it — the manifest
    * is the only truth). This is the Iceberg WAP / Delta
    * CHECK-constraint gate: bad data is refused at the table
    * boundary, not discovered downstream.
    *
    * FILE STATISTICS: `statsCols` names long columns whose per-file
    * min/max should ride INTO the manifest — collected in one
    * distributed footer pass over only the FRESH files (O(new files),
    * the Iceberg stats-collection cost, paid once at commit), so
    * every later selective read plans from manifest lines alone —
    * zero footer probes, zero data pages ([[read]] + `filter`). Columns
    * without usable footer stats record nothing for that file, and a
    * stat-less file always survives pruning.
    *
    * PARTITIONING: `partitionBy` stages Hive-layout
    * (`data/b<v>-<nonce>/<col>=<val>/…`); the manifest line's path
    * carries the partition value, so partition pruning is the same
    * manifest-text decision as stat pruning (both in [[scan]]), and
    * vacuum / OPTIMIZE compose per partition (the rewrite plan just
    * selects one partition's lines). A partitioned table should be
    * partitioned the same way on every commit — readers reconcile
    * the column from the path, not the footer. */
  def commit(s: SparkSession, df: DataFrame, table: String,
      mode: String, tag: Option[String] = None,
      audit: Option[DataFrame => Unit] = None,
      statsCols: Seq[String] = Nil,
      partitionBy: Option[String] = None,
      tagScanDepth: Int = Int.MaxValue): Int = {
    require(mode == "overwrite" || mode == "append",
      s"unknown snapshot mode: $mode")
    require(tagScanDepth >= 1, "tagScanDepth must be positive")
    val fs = fsOf(s, new Path(table))
    val prev = versions(s, table)
    // the tag check and the claim version derive from ONE listing:
    // a same-tag racer landing after this scan lands at `v`, which
    // makes OUR claim refuse — the retry then finds the tag here.
    // `tagScanDepth` bounds the MISS path (a fresh tag is the normal
    // case and otherwise reads one header per live version — on an
    // object store at 10³ versions that is the commit's dominant
    // cost): a replayed tag is always within the streaming replay
    // window of the head, so a drain passes a bound comfortably
    // above it and the miss path goes O(depth). Callers whose tags
    // may be ARBITRARILY old must keep the unbounded default — a
    // bound shallower than the tag's distance double-appends.
    val already = tag.flatMap { t =>
      val want = s"#tag:$t"
      prev.reverseIterator.take(tagScanDepth).find(v =>
        headerLine(fs, manifest(table, v)).contains(want))
    }
    if (already.isDefined) return already.get
    val v = prev.lastOption.getOrElse(0) + 1
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // staging is UNIQUE to this attempt: no predecessor roll-forward
    // delete (nothing shares the path), and reclaiming on loss below
    // can never touch a concurrent winner's files
    val dataDir = new Path(table, s"data/b$v-$nonce")
    partitionBy match {
      case Some(p) => df.write.partitionBy(p).parquet(dataDir.toString)
      case None => df.write.parquet(dataDir.toString)
    }
    val staged = listStaged(fs, dataDir)
    // the STANDING check (table metadata) audits every commit; the
    // per-commit audit composes after it — both see exactly the
    // staged bytes, both refuse by reclaiming and publishing nothing.
    // An EMPTY staging has nothing to audit (and nothing to read):
    // it falls through to the empty-snapshot refusal below.
    val standing: Option[DataFrame => Unit] =
      checkOf(s, table).map { pred => df0 =>
        // SQL CHECK semantics: only a FALSE predicate violates
        if (df0.filter(expr(s"($pred) = false")).limit(1).count() > 0)
          throw new CheckViolationException(
            s"CHECK ($pred) violated by staged data — commit refused")
      }
    if (staged.nonEmpty) (standing.toSeq ++ audit.toSeq).foreach { check =>
      try check(partitionBy match {
        case Some(_) => s.read.option("basePath", dataDir.toString)
          .parquet(dataDir.toString)
        case None => s.read.parquet(dataDir.toString)
      })
      catch { case e: Throwable =>
        // refused at the boundary: reclaim the staging — a failed
        // audit publishes NOTHING (readers only ever see manifests)
        fs.delete(dataDir, true)
        throw e
      }
    }
    val fresh = staged.map { case (p, len) =>
      (s"data/b$v-$nonce/$p", len) }
    val base = if (mode == "append") prev.lastOption else None
    require(fresh.nonEmpty || base.nonEmpty,
      "refusing to commit an empty snapshot")
    // header order contract: the tag (when present) is ALWAYS the
    // first line — the tag scan reads only line one
    val lines = tag.map(t => s"#tag:$t").toSeq ++
      Seq(s"#ts:${System.currentTimeMillis()}") ++
      partHeader(df, partitionBy) ++
      base.map(b => f"#base:$b").toSeq ++
      withStats(s, table, fresh, statsCols)
    try claim(fs, table, v, lines)
    catch { case e: java.io.IOException =>
      // losing the race means this writer's snapshot derived from a
      // stale head — its staged data is garbage; reclaim OUR dir only
      // and rethrow for the caller to re-derive and retry
      fs.delete(dataDir, true)
      throw e
    }
    v
  }

  /** Staged parquet files under `dataDir`, as (path relative to it,
    * byte size) — recursive, so a partitionBy staging
    * (`<col>=<val>/part-*.parquet`) lists exactly like a flat one.
    * The sizes are free (the listing carries them) and feed the
    * manifest's `#bytes` field. */
  private def listStaged(fs: FileSystem,
      dataDir: Path): Seq[(String, Long)] = {
    val base = fs.makeQualified(dataDir).toString + "/"
    def walk(p: Path): Seq[(Path, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet"))
          Seq((st.getPath, st.getLen))
        else Nil
      }
    walk(dataDir).map { case (p, len) =>
      (fs.makeQualified(p).toString.stripPrefix(base), len)
    }.sortBy(_._1)
  }

  /** Freshly staged (file, size) pairs → manifest lines: every line
    * records its `#bytes`; when `statsCols` is set, ONE distributed
    * footer pass over only these files adds per-file min/max. The
    * fresh set is per-commit bounded — exactly the lines the manifest
    * writes anyway. */
  /** String bounds truncate Iceberg-style before entering the
    * manifest: the lower bound is a ≤-preserving PREFIX, the upper
    * bound a truncate-then-increment-last-byte that stays ≥ the true
    * max (None when every truncated byte is 0xFF — then nothing is
    * recorded and the file simply always survives pruning). Keeps
    * manifest lines bounded no matter how long the keys are. */
  private val StrBoundLen = 16
  private[graft] def truncMin(b: Array[Byte]): Array[Byte] =
    b.take(StrBoundLen)
  private[graft] def truncMaxInc(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StrBoundLen) Some(b)
    else {
      val t = b.take(StrBoundLen)
      var i = t.length - 1
      while (i >= 0 && t(i) == -1) i -= 1 // 0xFF signed
      if (i < 0) None
      else Some(t.take(i + 1).updated(i, (t(i) + 1).toByte))
    }

  private def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  private[graft] def unb64(x: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(x)

  private def withStats(s: SparkSession, table: String,
      fresh: Seq[(String, Long)], statsCols: Seq[String]): Seq[String] =
    if (fresh.isEmpty) Nil
    else {
      val audited =
        if (statsCols.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else {
          val uris = fresh.map { case (rel, _) =>
            new Path(table, rel).toUri.toString }
          LayoutAudit.auditFilesMulti(s, uris, statsCols).collect()
        }
      val grouped = audited.groupBy(_.getString(0))
      fresh.map { case (rel, len) =>
        val key = rel.split('/').takeRight(2).mkString("/")
        val rows = grouped.getOrElse(key, Array.empty)
        val longs = rows.filter(!_.isNullAt(2)).map(r =>
          r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
        val strs = rows.filter(!_.isNullAt(4)).flatMap { r =>
          truncMaxInc(r.getAs[Array[Byte]](5)).map(mx =>
            r.getString(1) ->
              (b64(truncMin(r.getAs[Array[Byte]](4))), b64(mx)))
        }.toMap
        entryLine(FileEntry(rel, longs, Some(len), strs))
      }
    }

  /** Commit a REWRITE snapshot: the next version's file list is
    * `carried` (untouched manifest LINES of the current head — take
    * them from [[fileEntries]]/[[entryLine]] so their recorded stats
    * survive the rewrite; bare relative paths also work, losing any
    * stats they had; the files themselves are never read or moved)
    * plus `df`'s freshly staged files. This is the file-level
    * transaction under targeted-rewrite operations (RTBF erasure,
    * compaction of a file subset): cost scales with the REWRITTEN
    * subset, the manifest proves the rest untouched, and history
    * keeps the pre-rewrite version readable until vacuum retires it.
    * The manifest is self-contained (no `#base:` pointer — a rewrite
    * redefines the list, it doesn't extend it).
    *
    * CONFLICT DETECTION: a rewrite plan is derived FROM a head
    * version (its carried list names that head's files), so a
    * concurrent commit landing after the plan makes the plan STALE —
    * blindly committing it would silently drop the concurrent
    * writer's rows (the lost-update anomaly). Pass `expectedHead` to
    * refuse when the head moved; the residual window between the
    * check and the rename is closed by claim's per-version atomicity
    * (a racer landing inside it takes expectedHead+1, which is
    * exactly the version this rewrite then fails to claim). */
  def commitRewrite(s: SparkSession, df: DataFrame, table: String,
      carried: Seq[String], tag: Option[String] = None,
      expectedHead: Option[Int] = None,
      statsCols: Seq[String] = Nil,
      partitionBy: Option[String] = None,
      carryDeletes: Boolean = true): Int = {
    val fs = fsOf(s, new Path(table))
    val prev = versions(s, table)
    require(prev.nonEmpty, s"no committed snapshot under $table")
    expectedHead.filter(_ != prev.last).foreach { h =>
      throw new ConcurrentCommitException(
        s"table advanced to ${prev.last} past expected head $h — " +
          "the rewrite plan is stale; re-derive and retry")
    }
    val v = prev.last + 1
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = new Path(table, s"data/b$v-$nonce")
    partitionBy match {
      case Some(p) => df.write.partitionBy(p).parquet(dataDir.toString)
      case None => df.write.parquet(dataDir.toString)
    }
    val fresh = listStaged(fs, dataDir).map { case (p, len) =>
      (s"data/b$v-$nonce/$p", len) }
    require(carried.nonEmpty || fresh.nonEmpty,
      "refusing to commit an empty snapshot")
    // the standing CHECK audits rewrites too — a compaction or
    // erasure output must honor the table's constraint
    if (fresh.nonEmpty) checkOf(s, table).foreach { pred =>
      val staged = partitionBy match {
        case Some(_) => s.read.option("basePath", dataDir.toString)
          .parquet(dataDir.toString)
        case None => s.read.parquet(dataDir.toString)
      }
      if (staged.filter(expr(s"($pred) = false")).limit(1).count() > 0) {
        fs.delete(dataDir, true)
        throw new CheckViolationException(
          s"CHECK ($pred) violated by rewrite output — commit refused")
      }
    }
    // deletion vectors CARRY by default: carried data files still
    // need their positions anti-joined (dropping them would
    // resurrect deleted rows under every carried file). Only a
    // materializing rewrite ([[materializeDeletes]]) clears them.
    val dvLines =
      if (carryDeletes) dvFiles(s, table, prev.last).map(p => s"#dv:$p")
      else Nil
    val lines = tag.map(t => s"#tag:$t").toSeq ++
      Seq(s"#ts:${System.currentTimeMillis()}") ++
      partHeader(df, partitionBy) ++ dvLines ++ carried ++
      withStats(s, table, fresh, statsCols)
    try claim(fs, table, v, lines)
    catch { case e: java.io.IOException =>
      fs.delete(dataDir, true)
      throw e
    }
    v
  }

  /** Optimistic retry for REWRITE transactions (OPTIMIZE, erasure,
    * compaction) under concurrent writers: `plan` derives the rewrite
    * FROM a head version — (df to stage, files to carry) — and the
    * commit refuses if the head moved since (see [[commitRewrite]]'s
    * conflict note); on refusal the plan RE-DERIVES from the new head
    * so a concurrent append's rows are carried, never dropped. This
    * is the Delta/Iceberg conflict-resolution loop: rewrites yield to
    * appends and replay on top of them. */
  def rewriteWithRetry(s: SparkSession, table: String,
      plan: Int => (DataFrame, Seq[String]),
      tag: Option[String] = None, attempts: Int = 8,
      statsCols: Seq[String] = Nil,
      partitionBy: Option[String] = None,
      carryDeletes: Boolean = true): Int = {
    require(attempts >= 1, "rewriteWithRetry needs at least one attempt")
    var left = attempts
    while (true) {
      val head = versions(s, table).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed snapshot under $table"))
      val (df, carried) = plan(head)
      try return commitRewrite(s, df, table, carried, tag, Some(head),
        statsCols, partitionBy, carryDeletes)
      catch {
        case e: ConcurrentCommitException =>
          left -= 1
          if (left == 0) throw e
          Thread.sleep(5L + scala.util.Random.nextInt(20))
      }
    }
    -1 // unreachable
  }

  /** Per-table claim serialization WITHIN this JVM. The cross-process
    * protocol below relies on rename refusing an existing destination
    * — the HDFS contract, which object-store commit services also
    * provide — but a POSIX local filesystem's rename REPLACES the
    * destination, so two same-JVM threads passing the exists-check
    * together would silently clobber (observed: both racers of
    * `q_commit_retry` returned version 1 under load). In local mode
    * every committer IS a thread of this JVM, so an intra-JVM mutex
    * closes exactly the window the filesystem leaves open; on a
    * cluster the driver-side committer plus HDFS rename semantics
    * carry the contract across processes. */
  private val claimLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The commit point — OPTIMISTIC CONCURRENCY: refuse if another
    * committer already claimed `v` (never silently overwrite a
    * manifest), otherwise stage and atomically rename. A racer
    * landing between the check and the rename still loses: same-JVM
    * racers serialize on the table's claim lock, and cross-process
    * rename does not replace an existing destination (the HDFS
    * contract), so the late rename fails loudly rather than
    * clobbering the winner. */
  private[graft] def claim(fs: FileSystem,
      table: String, v: Int, lines: Seq[String]): Unit = {
    val tmp = new Path(table, s".manifest-v$v.txt.tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // key on the FULLY QUALIFIED uri: every spelling of one table
    // (relative/absolute, scheme-qualified/bare, trailing slash)
    // normalizes to one lock — two same-JVM committers addressing the
    // table differently must still serialize (growth is one Object
    // per distinct table, not per spelling)
    val lock = claimLocks.computeIfAbsent(
      fs.makeQualified(new Path(table)).toUri.toString, _ => new Object)
    val won = lock.synchronized {
      if (fs.exists(manifest(table, v))) false
      else fs.rename(tmp, manifest(table, v))
    }
    if (!won) {
      fs.delete(tmp, false)
      throw new ConcurrentCommitException(
        s"concurrent commit: version $v was claimed by another writer")
    }
  }

  /** Materialize version `v`'s full resolved state as a checkpoint
    * sidecar: full LINES, not bare paths — recorded stats survive, so
    * skip planning works across it — with the chain's `#part` header
    * and live `#dv` lines riding along (dropping a vector would
    * resurrect rows). Crash-safe: tmp + rename, and a concurrent
    * identical checkpoint yields (the resolved list is a pure
    * function of the still-whole chain). */
  private def writeCheckpoint(s: SparkSession, fs: FileSystem,
      table: String, v: Int): Unit = {
    val hdr = partSpecOf(s, table, v).map { case (c, dt) =>
      s"#part:$c=${dt.catalogString}" }.toSeq ++
      dvFiles(s, table, v).map(p => s"#dv:$p")
    val full = hdr ++ resolvedLines(s, table, v)
    val tmp = new Path(table, s".checkpoint-v$v.txt.tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write((full.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, checkpoint(table, v))) {
      fs.delete(tmp, false)
      require(fs.exists(checkpoint(table, v)),
        s"checkpoint rename failed for version $v")
    }
  }

  /** CADENCED CHECKPOINT — the Delta checkpoint-interval move,
    * decoupled from retention: write version `v`'s (default: head's)
    * checkpoint sidecar as a PURE ADDITION, retiring nothing. Every
    * later chain walk then short-circuits at `v`, so planning cost on
    * a long-lived append table is O(commits since last checkpoint)
    * manifest reads + O(files) lines — not O(chain depth). A drain
    * that appends forever calls this every N batches
    * (PLANS.md "Round 17: manifest planning at 10⁴–10⁵ lines" measures
    * the walk cost it removes); [[vacuum]] still checkpoints at the horizon on its
    * own. No-op when the checkpoint already exists. */
  def checkpointNow(s: SparkSession, table: String,
      version: Option[Int] = None): Unit = {
    val fs = fsOf(s, new Path(table))
    val vs = versions(s, table)
    require(vs.nonEmpty, s"no committed snapshot under $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"unknown snapshot version $v (have $vs)")
    if (!fs.exists(checkpoint(table, v))) writeCheckpoint(s, fs, table, v)
  }

  /** Retention GC: keep the LAST `keep` versions, delete every data
    * file no kept manifest references, every older manifest, and any
    * orphaned staging below the horizon. History beyond the horizon
    * stops being readable BY DESIGN — that is the storage-cost
    * contract of retention; the kept versions' reads are untouched
    * (their files are never candidates, and the oldest kept version
    * is CHECKPOINTED first if its `#base:` chain crosses the horizon,
    * so no retained read ever needs a retired manifest).
    *
    * SAFE NEXT TO A LIVE COMMITTER: staging directories whose version
    * is ABOVE the committed head are skipped — that is exactly where
    * an in-flight commit (data written, manifest not yet renamed)
    * lives, and deleting it would let the committer publish a
    * manifest over vanished files. Garbage at or below the head is
    * fair game: any writer still staging there lost its race by
    * definition (versions only grow), so its claim will refuse
    * regardless. Returns the number of data files deleted. */
  def vacuum(s: SparkSession, table: String, keep: Int): Int = {
    require(keep >= 1, "vacuum must keep at least the latest version")
    val fs = fsOf(s, new Path(table))
    val vs = versions(s, table)
    require(vs.nonEmpty, s"no committed snapshot under $table")
    val (dropped, kept) = vs.splitAt(math.max(0, vs.size - keep))
    val head = vs.last
    // 1. CHECKPOINT the oldest kept version if its chain would cross
    //    the horizon (pure addition — crash-safe at any point)
    kept.headOption.foreach { k0 =>
      val needsCkpt = !fs.exists(checkpoint(table, k0)) &&
        readSmall(fs, manifest(table, k0)).exists(_.startsWith("#base:"))
      if (needsCkpt) writeCheckpoint(s, fs, table, k0)
    }
    // 2. resolve what the kept versions reference (chains still whole:
    //    nothing is deleted yet) — deletion-vector sidecars count as
    //    references too, or retention would strip live vectors
    val referenced = kept.flatMap(v =>
      files(s, table, v) ++ dvFiles(s, table, v)).toSet
    // 3. CRASH ORDER MATTERS: retire manifests FIRST, then data. A
    //    crash after manifest deletion leaves orphaned (unreferenced)
    //    files — garbage the next vacuum reclaims; the reverse order
    //    would leave a READABLE manifest naming already-deleted files,
    //    breaking a historical read that was promised to work
    dropped.foreach { v =>
      fs.delete(manifest(table, v), false)
      fs.delete(checkpoint(table, v), false)
    }
    // orphan checkpoint sweep (a prior crash between ckpt-write and
    // manifest retirement, or a manifest deleted out-of-band)
    val liveSet = kept.toSet
    fs.listStatus(new Path(table)).map(_.getPath).foreach { p =>
      p.getName match {
        case CheckpointName(v) if !liveSet.contains(v.toInt) =>
          fs.delete(p, false)
        case _ => ()
      }
    }
    // 4. data: refcount against kept manifests, protect in-flight
    //    staging (version > head). The walk is RECURSIVE: a
    //    partitioned commit nests <col>=<val> dirs inside its batch
    //    dir, and a flat listing would see only directories — no
    //    parquet files — and wrongly reclaim live batches
    val dataRoot = new Path(table, "data")
    var removed = 0
    if (fs.exists(dataRoot)) fs.listStatus(dataRoot).foreach { st =>
      val batch = st.getPath.getName
      val staged = batch.stripPrefix("b").takeWhile(_.isDigit)
      val inFlight = batch.startsWith("b") && staged.nonEmpty &&
        staged.toLong > head
      if (!inFlight) {
        val parquets = listStaged(fs, st.getPath).map(_._1)
        val doomed = parquets.filter(p =>
          !referenced.contains(s"data/$batch/$p"))
        doomed.foreach { p =>
          fs.delete(new Path(st.getPath, p), false); removed += 1
        }
        // a batch dir with no referenced data left disappears entirely
        // (its _SUCCESS markers and emptied partition dirs go with the
        // dir, never counted above); this is also what reclaims
        // orphaned torn-commit staging
        if (doomed.size == parquets.size) fs.delete(st.getPath, true)
      }
    }
    removed
  }

  /** TIME-BASED RETENTION — `vacuum` by AGE instead of count (the
    * production posture: compliance deadlines are expressed in days,
    * not versions — "the pre-erasure snapshot must be physically
    * gone 30 days after the request" is THIS call on a schedule):
    * retire every version whose recorded commit instant is at or
    * before `cutoffMs`, always keeping at least `minKeep` (the head
    * must survive any cutoff). Versions without a recorded instant
    * (pre-recording history) count as infinitely old. Delegates to
    * [[vacuum]] — same checkpointing, same crash order, same
    * in-flight protection. Returns data files deleted. */
  def vacuumOlderThan(s: SparkSession, table: String, cutoffMs: Long,
      minKeep: Int = 1): Int = {
    require(minKeep >= 1, "must keep at least the latest version")
    val vs = versions(s, table)
    require(vs.nonEmpty, s"no committed snapshot under $table")
    val fresh = vs.count(v =>
      commitTimeMs(s, table, v).exists(_ > cutoffMs))
    vacuum(s, table, math.max(minKeep, fresh))
  }

  /** The FILES metadata table — one row per data file of `version`
    * (latest when None) with its partition values, recorded size, and
    * recorded bounds, AS A DATAFRAME (the Iceberg `.files` metadata
    * table / Delta `DESCRIBE DETAIL` surface): layout audits, small-
    * file reports, and skew checks become plain queries over manifest
    * text — no filesystem listing, no footer read. Bounds serialize
    * as `col=min..max` strings (string bounds base64, as recorded). */
  def filesDf(s: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val vs = versions(s, table)
    require(vs.nonEmpty, s"no committed snapshot under $table")
    val v = version.getOrElse(vs.last)
    val rows = fileEntries(s, table, v).map { e =>
      org.apache.spark.sql.Row(e.path,
        e.partitionValues,
        e.sizeBytes.map(Long.box).orNull.asInstanceOf[Any],
        e.stats.map { case (c, (mn, mx)) => c -> s"$mn..$mx" } ++
          e.strStats.map { case (c, (mn, mx)) => c -> s"s:$mn..$mx" })
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("path", StringType),
      StructField("partition", MapType(StringType, StringType)),
      StructField("size_bytes", LongType),
      StructField("bounds", MapType(StringType, StringType)))))
  }

  /** Read snapshot `version` (latest when None) — exactly the
    * manifest's resolved files, distributed, planned by [[scan]]. A
    * SELECTIVE read is this frame filtered
    * (`read(s, t).filter(col("k").between(lo, hi))`): Catalyst pushes
    * the predicate into the manifest-backed
    * [[graft.sources.snap.SnapFileIndex]], which prunes partitions on
    * the Hive path segments and files on the bounds the commit
    * recorded (`statsCols`: numeric min/max and truncated string
    * bounds, through AND/OR/IN; absence admits), then the residual
    * applies in-scan. [[scannedFiles]] reads back what the plan
    * admitted. `mergeSchema` reconciles files written under EVOLVED
    * schemas by name (early files' absent columns read as null — a
    * snapshot table accretes columns over its append history exactly
    * like a landing zone does). `schema` is the TYPE-WIDENING read
    * path (the Delta widening surface): an explicit target schema
    * under which Spark's parquet reader up-casts narrow file columns
    * in-scan (int32→long, float→double) — the only way to serve a
    * version whose files MIX column widths, where mergeSchema refuses
    * the type conflict. Reconcile the target with [[Upsert.widen]]'s
    * lattice; the reader fails loudly on a genuinely incompatible
    * file. */
  def read(s: SparkSession, table: String,
      version: Option[Int] = None,
      mergeSchema: Boolean = false,
      schema: Option[StructType] = None): DataFrame = {
    val v = pinned(s, table, version)
    scan(s, table, v, fileEntries(s, table, v), mergeSchema, schema)
  }

  /** `version`, or the head when None — refusing an empty table or an
    * uncommitted version. */
  private def pinned(s: SparkSession, table: String,
      version: Option[Int]): Int = {
    val vs = versions(s, table)
    require(vs.nonEmpty, s"no committed snapshot under $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"unknown snapshot version $v (have $vs)")
    v
  }

  /** THE snapshot scan planner — every read path comes through here:
    * [[read]], [[readRange]], [[readIncremental]], [[commitDelete]],
    * [[materializeDeletes]] and [[optimizeSized]]. `entries` (already
    * resolved by the caller: a whole version, a footer-picked subset,
    * an incremental delta, a rewrite's inputs) become one
    * `HadoopFsRelation` over a [[graft.sources.snap.SnapFileIndex]]
    * per UNIFORM subset — the Hive-partitioned files (the partition
    * column typed by `schema` when it names it, else by the `#part:`
    * header, else string) and, in a mixed history, the loose files,
    * which carry the column themselves — unioned by name. Each
    * relation applies version `v`'s deletion vectors before the union
    * (metadata columns resolve only over a file scan); `pos` keeps the
    * `(__snap_fpath, __snap_pos)` row identity [[commitDelete]]
    * derives positions from. No entries: the version's schema, no
    * rows. */
  private def scan(s: SparkSession, table: String, v: Int,
      entries: Seq[FileEntry], mergeSchema: Boolean,
      schema: Option[StructType], pos: Boolean = false): DataFrame =
    if (entries.isEmpty)
      scan(s, table, v, fileEntries(s, table, v), mergeSchema, schema, pos)
        .filter(lit(false))
    else {
      val partCol = partColOf(s, table, v, entries).map { case (c, dt) =>
        c -> schema.flatMap(_.fields.find(_.name == c)).fold(dt)(_.dataType)
      }
      val (part, loose) = entries.partition(e =>
        partCol.exists(pc => e.partitionValues.contains(pc._1)))
      val dvs = dvFiles(s, table, v)
      Seq(part -> partCol, loose -> None).filter(_._1.nonEmpty).map {
        case (es, pcol) =>
          val idx = new SnapFileIndex(s, table, es, pcol)
          // the footer schema straight from the manifest's files: no
          // reader resolution, no listing (one file unless merging)
          val dataSchema = schema match {
            case Some(sc) =>
              StructType(sc.fields.filterNot(f => pcol.exists(_._1 == f.name)))
            case None => Bridge.asNullable(new ParquetFileFormat().inferSchema(
              s, Map("mergeSchema" -> mergeSchema.toString),
              idx.allFiles()).get)
          }
          withDeletes(s, table, dvs, pos, s.baseRelationToDataFrame(
            HadoopFsRelation(idx, idx.partitionSchema, dataSchema, None,
              new ParquetFileFormat, Map.empty[String, String])(s)))
      }.reduce(_ unionByName _)
    }

  /** The snapshot data files a frame's plan ADMITS: the files of every
    * [[graft.sources.snap.SnapFileIndex]] scan in its executed
    * physical plan ([[graft.core.Plans.nodes]]: through AQE, its query
    * stages and subqueries) for both the V1 `FileSourceScanExec`
    * ([[read]]) and the V2 `BatchScanExec` (`format("snap")`, SQL)
    * surfaces, with partition and manifest-stats pruning applied;
    * qualified paths, sorted. Against [[files]] of the version this is
    * the admitted/total skipping reading. It plans the frame and runs
    * no job; deletion-vector sidecars and other scans are not
    * listed. */
  def scannedFiles(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    graft.core.Plans.nodes(df.queryExecution.executedPlan).flatMap {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[SnapFileIndex] =>
        f.selectedPartitions.filePartitionIterator
          .flatMap(_.files.map(_.getPath.toString)).toSeq
      case b: BatchScanExec => b.scan match {
        case fs: FileScan if fs.fileIndex.isInstanceOf[SnapFileIndex] =>
          fs.planInputPartitions().toSeq.flatMap {
            case fp: FilePartition => fp.files.map(_.toPath.toString).toSeq
            case _ => Nil
          }
        case _ => Nil
      }
      case _ => Nil
    }.toSeq.distinct.sorted
  }

  /** A scanned row's data file as its MANIFEST-RELATIVE path
    * (`data/b<v>-<nonce>/…`), extracted from the metadata file path —
    * the deletion-vector join key. File NAMES alone are not unique
    * in a partitioned commit (one write job reuses its part numbers
    * and UUID across every `<col>=<val>` dir), and absolute paths
    * vary by URI spelling; the batch-dir-rooted relative path is
    * both unique and relocation-stable. The greedy prefix pins the
    * LAST `data/b…` segment, so a table nested under another table's
    * data dir still keys correctly. */
  private def relFileCol: org.apache.spark.sql.Column =
    regexp_extract(col("_metadata.file_path"),
      "^(?:.*/)?(data/b[0-9]+-[0-9a-f]{8}/.+)$", 1)

  /** Apply a version's DELETION VECTORS (its `dvs` sidecars) to one
    * file-source relation of its data files: anti-join on
    * (manifest-relative file path, in-file row position) — the
    * merge-on-read half of position deletes ([[commitDelete]]). The
    * DV side is typically tiny (O(deleted rows)); parquet size stats
    * let Spark broadcast it, so the cost is a scan-side hash probe,
    * not a shuffle, and pushed filters land under the join. No DVs →
    * the frame passes through untouched. `pos` keeps the join keys as
    * `__snap_fpath`/`__snap_pos`. */
  private def withDeletes(s: SparkSession, table: String,
      dvs: Seq[String], pos: Boolean, df: DataFrame): DataFrame =
    if (dvs.isEmpty && !pos) df
    else {
      val keyed = df.withColumn("__snap_fpath", relFileCol)
        .withColumn("__snap_pos", col("_metadata.row_index"))
      val live = if (dvs.isEmpty) keyed else keyed.join(
        s.read.parquet(dvs.map(rel => new Path(table, rel).toString): _*)
          .select(col("file").as("__snap_fpath"),
            col("pos").as("__snap_pos")),
        Seq("__snap_fpath", "__snap_pos"), "left_anti")
      if (pos) live else live.drop("__snap_fpath", "__snap_pos")
    }

  /** MERGE-ON-READ DELETE (the Delta deletion-vector / Iceberg
    * position-delete shape): commit the POSITIONS matching
    * `predicate` as a tiny sidecar parquet — `(file_name, pos)` rows,
    * O(deleted rows) bytes — referenced from the manifest by `#dv:`
    * lines; every read path then anti-joins them out. Nothing is
    * rewritten: the commit cost is the subject rows, not the files
    * that hold them — at 100 TB the difference between a
    * kilobyte-scale erasure commit and rewriting terabyte files
    * (copy-on-write stays available as [[commitRewrite]]; OPTIMIZE
    * materializes via [[materializeDeletes]], and [[vacuum]] then
    * completes PHYSICAL erasure once pre-delete versions retire).
    * The manifest stays self-contained: the head's data lines carry
    * verbatim (stats intact), prior `#dv:` lines ride along, and the
    * whole set becomes visible in one rename. Conflicts resolve like
    * every rewrite: positions derive from a head, losing the claim
    * re-derives from the new head (a concurrent append's rows are
    * re-scanned, never missed). Rows already deleted never re-enter
    * the sidecar (positions compute through the existing vectors).
    * Returns the committed version — the unchanged head when nothing
    * matched. */
  def commitDelete(s: SparkSession, table: String, predicate: String,
      tag: Option[String] = None, attempts: Int = 8): Int = {
    require(predicate.trim.nonEmpty, "empty delete predicate")
    val fs = fsOf(s, new Path(table))
    var left = attempts
    while (true) {
      val vs = versions(s, table)
      require(vs.nonEmpty, s"no committed snapshot under $table")
      val head = vs.last
      // positions of LIVE rows matching the predicate: metadata
      // columns captured at the scan, existing vectors anti-joined
      // so a re-delete never duplicates sidecar entries
      val matches = scan(s, table, head, fileEntries(s, table, head),
          mergeSchema = false, schema = None, pos = true)
        .filter(expr(predicate))
        .select(col("__snap_fpath").as("file"),
          col("__snap_pos").as("pos"))
      val v = head + 1
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val dvDir = new Path(table, s"data/b$v-$nonce")
      // one sidecar file: the vector is O(deleted rows), tiny by
      // construction — a delete that rewrites millions of positions
      // should be copy-on-write instead
      matches.coalesce(1).write.parquet(dvDir.toString)
      val staged = listStaged(fs, dvDir)
      if (s.read.parquet(dvDir.toString).isEmpty) {
        fs.delete(dvDir, true)
        return head
      }
      val prior = dvFiles(s, table, head)
      val lines = tag.map(t => s"#tag:$t").toSeq ++
        Seq(s"#ts:${System.currentTimeMillis()}") ++
        partSpecOf(s, table, head).map { case (c, dt) =>
          s"#part:$c=${dt.catalogString}" }.toSeq ++
        resolvedLines(s, table, head) ++
        (prior ++ staged.map { case (p, _) => s"data/b$v-$nonce/$p" })
          .map(p => s"#dv:$p")
      try return { claim(fs, table, v, lines); v }
      catch {
        case _: ConcurrentCommitException if left > 1 =>
          fs.delete(dvDir, true)
          left -= 1
          Thread.sleep(5L + scala.util.Random.nextInt(20))
        case e: java.io.IOException =>
          fs.delete(dvDir, true)
          throw e
      }
    }
    -1 // unreachable
  }

  /** OPTIMIZE for deletion vectors — materialize merge-on-read back
    * to pure data files: rewrite ONLY the files the vectors touch
    * (positions applied in-rewrite), carry every untouched line with
    * its stats, commit WITHOUT `#dv:` lines. After this, no read
    * pays the anti-join — and once [[vacuum]] retires the pre-delete
    * versions, the deleted rows' bytes are physically gone (the RTBF
    * completion contract). Runs through the rewrite conflict loop;
    * no-op (head returned) when the snapshot carries no vectors. */
  def materializeDeletes(s: SparkSession, table: String,
      statsCols: Seq[String] = Nil, attempts: Int = 8): Int = {
    val head0 = versions(s, table).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot under $table"))
    if (dvFiles(s, table, head0).isEmpty) return head0
    val partBy = partSpecOf(s, table, head0).map(_._1)
    rewriteWithRetry(s, table, h => {
      val affected = s.read.parquet(dvFiles(s, table, h).map(rel =>
          new Path(table, rel).toString): _*)
        .select("file").distinct().collect().map(_.getString(0)).toSet
      val (hit, keep) =
        fileEntries(s, table, h).partition(e => affected.contains(e.path))
      val df = scan(s, table, h, hit, mergeSchema = false, schema = None)
      (df, keep.map(entryLine))
    }, statsCols = statsCols, partitionBy = partBy,
      attempts = attempts, carryDeletes = false)
  }

  /** INCREMENTAL READ — the table AS a change source (the Delta CDF /
    * Iceberg incremental-scan shape for APPEND histories): the rows
    * that arrived strictly after `fromV`, up to `toV`, are exactly
    * the files in `toV`'s manifest that `fromV`'s lacks — a consumer
    * that has integrated `fromV` reads ONLY the delta, never the
    * history (the same never-re-read contract as [[diff]], here at
    * file grain with zero joins). REFUSES when the history between
    * the versions is not append-only (a file of `fromV` missing from
    * `toV` means an overwrite/rewrite landed — row-level provenance
    * is gone and an "incremental" read would silently double-count or
    * drop; rebootstrap from the full snapshot instead, exactly the
    * CDC gap rule). The delta plans through [[scan]] like [[read]],
    * so a partitioned table's typed partition column comes back. */
  def readIncremental(s: SparkSession, table: String, fromV: Int,
      toV: Int): (Seq[String], DataFrame) = {
    val vs = versions(s, table)
    require(vs.contains(fromV) && vs.contains(toV) && fromV <= toV,
      s"need committed versions fromV <= toV, got $fromV..$toV of $vs")
    val before = files(s, table, fromV).toSet
    val after = fileEntries(s, table, toV)
    val gone = before -- after.map(_.path)
    require(gone.isEmpty,
      s"history between v$fromV and v$toV is not append-only " +
        s"(${gone.size} files rewritten/removed) — incremental " +
        "semantics are gone; rebootstrap from the full snapshot")
    // a deletion vector landing in the window breaks the append-only
    // contract the same way a rewrite does: consumed rows RETRACTED,
    // not new rows added — an "incremental" read can't express that
    require(dvFiles(s, table, fromV).toSet == dvFiles(s, table, toV).toSet,
      s"deletion vectors changed between v$fromV and v$toV — the " +
        "history is not append-only; rebootstrap from the full snapshot")
    val fresh = after.filterNot(e => before(e.path))
    (fresh.map(_.path),
      scan(s, table, toV, fresh, mergeSchema = false, schema = None))
  }

  /** SIZE-TARGETED COMPACTION (the Delta OPTIMIZE bin-packing shape):
    * plan from the manifest's recorded `#bytes` — files below
    * `targetBytes` restage into ⌈Σsmall / target⌉ output files, big
    * files carry by reference with their stats — and commit through
    * the rewrite conflict loop (an append landing mid-compaction
    * costs a retry, never a lost row). On a PARTITIONED table pass
    * `partition = (col, value)`: packing across partitions would
    * destroy the layout, so the unpartitioned form refuses it. Files
    * with no recorded size are left alone (unknown is not small).
    * Planning cost: manifest text only — no filesystem listing, the
    * point of recording sizes at commit. Returns the committed
    * version (the current head when there was nothing to pack). */
  def optimizeSized(s: SparkSession, table: String, targetBytes: Long,
      statsCols: Seq[String] = Nil,
      partition: Option[(String, String)] = None,
      attempts: Int = 8): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    def scopeOf(es: Seq[FileEntry]): (Seq[FileEntry], Seq[FileEntry]) =
      partition match {
        case Some((c, v)) =>
          es.partition(_.partitionValues.get(c).contains(v))
        case None =>
          require(es.forall(_.partitionValues.isEmpty),
            "partitioned table: pass partition=(col,value) — packing " +
              "across partitions would destroy the layout")
          (es, Nil)
      }
    val head0 = versions(s, table).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot under $table"))
    val (scope0, _) = scopeOf(fileEntries(s, table, head0))
    if (scope0.count(_.sizeBytes.exists(_ < targetBytes)) < 2) head0
    else rewriteWithRetry(s, table, h => {
      val es = fileEntries(s, table, h)
      val (scope, outside) = scopeOf(es)
      val (smalls, bigs) = scope.partition(
        _.sizeBytes.exists(_ < targetBytes))
      val nBins = math.max(1, math.ceil(
        smalls.flatMap(_.sizeBytes).sum.toDouble / targetBytes).toInt)
      // read smalls THROUGH the head's deletion vectors: the packed
      // output must not resurrect rows whose positions pointed at
      // the files being replaced (the dangling entries that remain
      // for replaced files then match nothing — names are unique)
      val packed = scan(s, table, h, smalls, mergeSchema = false,
        schema = None).repartition(nBins)
      (packed, (outside ++ bigs).map(entryLine))
    }, statsCols = statsCols, partitionBy = partition.map(_._1),
      attempts = attempts)
  }

  /** Table history as data — the DESCRIBE HISTORY surface: one row
    * per live version with its tag, file count, and total recorded
    * bytes (null when any file predates size recording). Pure
    * manifest text; the chain resolves per version, so cost is
    * O(live versions × files) driver-side lines — observability, not
    * a hot path. */
  def history(s: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.types._
    val vs = versions(s, table)
    val rows = vs.map { v =>
      val es = fileEntries(s, table, v)
      val bytes =
        if (es.forall(_.sizeBytes.isDefined))
          es.flatMap(_.sizeBytes).sum
        else null.asInstanceOf[Any]
      org.apache.spark.sql.Row(v.toLong,
        tagOf(s, table, v).orNull, es.size.toLong, bytes,
        commitTimeMs(s, table, v)
          .map(Long.box).orNull.asInstanceOf[Any])
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType),
      StructField("tag", StringType),
      StructField("n_files", LongType),
      StructField("bytes", LongType),
      StructField("ts_ms", LongType))))
  }

  /** FOOTER-PLANNED ranged read — Iceberg-style scan planning on the
    * snapshot table: the manifest names the version's files, their
    * parquet footers bound `column` per file
    * ([[LayoutAudit.auditFiles]], one footer read per file,
    * distributed), and only files whose [min, max] INTERSECTS
    * [lo, hi] are opened at all; the residual predicate still applies
    * in-scan (footer bounds admit, they never prove). On a clustered
    * layout this is the difference between reading ~the matching
    * files and reading the table — the planner's cost is metadata
    * only, never a data page. Returns (footer-picked file URIs,
    * frame); the frame plans through [[scan]] like [[read]]
    * (partition column, deletion vectors, and any recorded stats
    * pruning further), so [[scannedFiles]] of it is what actually
    * opens. `mergeSchema` reconciles schema-evolved file mixes
    * exactly as [[read]] does — a ranged read of an evolved snapshot
    * must not take one file's schema for the whole scan. */
  def readRange(s: SparkSession, table: String, version: Option[Int],
      column: String, lo: Long, hi: Long,
      mergeSchema: Boolean = false): (Seq[String], DataFrame) = {
    val v = pinned(s, table, version)
    val entries = fileEntries(s, table, v)
    val uris = entries.map(e => new Path(table, e.path).toUri.toString)
    // a file with NO usable footer stats cannot be proven out — it
    // must be read (bounds admit, absence never excludes)
    val chosen = LayoutAudit.auditFiles(s, uris, column)
      .filter(coalesce(col("col_min") <= hi && col("col_max") >= lo,
        lit(true)))
      .select(col("file")).collect().map(_.getString(0)).toSet
    val picked = entries.zip(uris).filter { case (_, u) =>
      chosen.contains(u.split('/').takeRight(2).mkString("/")) }
    (picked.map(_._2), scan(s, table, v, picked.map(_._1), mergeSchema,
        schema = None).filter(col(column) >= lo && col(column) <= hi))
  }

  /** Change-data-feed between two keyed states: one full-outer join
    * on `key`, emitting only CHANGED rows — op I (inserted),
    * D (deleted), U (value moved); unchanged keys are suppressed.
    * Keys must be unique per side (they are snapshots of an
    * aggregate/dimension state). `carry` columns ride along for the
    * consumer (taken from the new side, falling back to the old side
    * on deletes) — what a downstream MV folds by when the CDC key is
    * finer than the MV grain. Scale: one shuffle on the key, or zero
    * with both snapshots bucketed on it. */
  def diff(old: DataFrame, neu: DataFrame, key: String,
      value: String, carry: Seq[String] = Nil): DataFrame = {
    val o = old.select(col(key) +: col(value).as(s"old_$value") +:
      carry.map(c => col(c).as(s"_o_$c")): _*)
    val n = neu.select(col(key) +: col(value).as(s"new_$value") +:
      carry.map(c => col(c).as(s"_n_$c")): _*)
    o.join(n, Seq(key), "full_outer")
      .withColumn("op",
        when(col(s"old_$value").isNull, lit("I"))
          .when(col(s"new_$value").isNull, lit("D"))
          .otherwise(lit("U")))
      .filter(col(s"old_$value").isNull || col(s"new_$value").isNull ||
        col(s"old_$value") =!= col(s"new_$value"))
      .select(col(key) +: col(s"old_$value") +: col(s"new_$value") +:
        col("op") +:
        carry.map(c => coalesce(col(s"_n_$c"), col(s"_o_$c")).as(c)): _*)
  }
}
