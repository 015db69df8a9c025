package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.{Mv, SnapTable}

/** CDC-FED CONTINUOUS MV MAINTENANCE — the composition a 100 TB
  * warehouse runs all day: a consumer watches a snapshot table's
  * version stream, turns each new version into a CHANGE SET against
  * its predecessor ([[SnapTable.diff]]), reduces the change set to
  * the MV's grain, folds it into the standing view with
  * [[Mv.additiveMerge]], and republishes the view ON THE SNAPSHOT
  * PROTOCOL — tagged with the source version it consumed, so the
  * CURSOR IS THE TAG: a crashed or replayed consumer re-finds its
  * position in the MV table's own commit log and folds nothing
  * twice (the same idempotence primitive the ingestion drain uses).
  *
  * Per-version cost is the diff (one key shuffle over two bounded
  * STATES, never raw history) plus a key-cardinality merge — the
  * whole point of CDC: the 99 already-integrated versions are never
  * read again, and a full recompute must be bit-identical
  * (`q_cdc_mv_stream` hash-gates exactly that).
  *
  * Contract: the consumer must keep up with the SOURCE's retention —
  * a version vacuumed before it was consumed is an unrecoverable gap
  * (rebootstrap from the latest snapshot), the same
  * retention-covers-the-horizon rule as replay tags. MV-side
  * retention is NOT load-bearing for idempotence: folds land in
  * ascending source order, so the MV HEAD's tag is the max consumed
  * version — a consumed version whose own tag manifest was vacuumed
  * from the MV log is still refused a re-fold by the head cursor
  * (CdcStreamSpec pins it).
  */
object CdcStream {

  /** Fold every unconsumed version of `srcTable` into `mvTable`.
    *
    * @param key     CDC key column of the source state (unique per
    *                version — the state's grain)
    * @param value   the source state's value column (diffed)
    * @param carry   columns carried through the diff for [[contrib]]
    * @param contrib reduce one change set (key, old_/new_ value, op,
    *                carry*) to the MV's additive delta
    *                (mvKey, mvCols*)
    * @param mvKey   the standing view's key
    * @param mvCols  the standing view's additive columns
    * @param onVersion observer per folded version: (source version,
    *                  fold seconds) — the per-fold flatness probe
    *                  (PLANS.md "Round 16: MV-consumer age study")
    * @return number of source versions folded this drain (0 = caught
    *         up; redelivery is a no-op by tag)
    */
  def runMaintain(s: SparkSession, srcTable: String, mvTable: String,
      key: String, value: String, carry: Seq[String],
      contrib: DataFrame => DataFrame,
      mvKey: String, mvCols: Seq[String],
      onVersion: (Int, Double) => Unit = (_, _) => ()): Int = {
    val srcVs = SnapTable.versions(s, srcTable)
    require(srcVs.nonEmpty, s"no committed snapshot under $srcTable")
    // THE CURSOR IS THE NEWEST `src-v*` TAG in the MV's live commit
    // log: folds commit in ascending source order, so the newest such
    // tag names the max consumed version — readable even after
    // MV-side vacuum retired OLDER tag manifests. Any source version
    // at or below it is CONSUMED, whether or not its own tag manifest
    // still exists: re-folding one would double-count into standing
    // state (the per-version tag scan alone can't tell a vacuumed-away
    // tag from a never-consumed version; the cursor can). The scan is
    // newest-FIRST with early exit — normally one header read — and
    // walks past UNTAGGED MV commits (an OPTIMIZE/compaction on the MV
    // is tag-less; taking only the head's tag would reset the cursor
    // under it and re-fold consumed history once retention retired the
    // older tag manifests). MV retention must keep at least one tagged
    // commit alive — vacuum keep >= 1 plus ascending folds guarantee
    // it unless every tagged manifest is vacuumed while only untagged
    // rewrites survive, which a maintenance cadence of fold-then-
    // compact never produces.
    val mvVs = SnapTable.versions(s, mvTable)
    val consumedMax: Int = mvVs.reverseIterator
      .flatMap(v => SnapTable.tagOf(s, mvTable, v))
      .collectFirst { case t if t.startsWith("src-v") =>
        t.stripPrefix("src-v").toInt }
      .getOrElse(Int.MinValue)
    // ENFORCED, not just documented: standing MV state whose live log
    // carries NO cursor tag (every tagged manifest vacuumed, only
    // untagged rewrites left) is indistinguishable from never-consumed
    // — folding onto it would double-count. Refuse; rebootstrap.
    require(consumedMax != Int.MinValue || mvVs.isEmpty,
      s"$mvTable has standing state but no src-v* cursor tag in its " +
        "live commit log — a fold could double-count; keep MV " +
        "retention covering a tagged commit, or rebootstrap the view")
    var folded = 0
    srcVs.zip(None +: srcVs.map(Some(_))).foreach { case (v, prevV) =>
      val tag = s"src-v$v"
      if (v > consumedMax &&
          SnapTable.taggedVersion(s, mvTable, tag).isEmpty) {
        val t0 = System.nanoTime()
        // GAP DETECTION: a consumer with standing state whose next
        // unconsumed version has no predecessor left (the source
        // vacuumed past it) cannot fold — a bootstrap diff on top of
        // standing state double-counts every surviving key. The gap
        // is unrecoverable by folding; rebuild the view from the
        // latest snapshot (the retention contract every CDC consumer
        // carries: keep up, or retention must cover your lag).
        require(prevV.isDefined || SnapTable.versions(s, mvTable).isEmpty,
          s"CDC gap: $srcTable vacuumed past unconsumed history below " +
            s"version $v — rebootstrap $mvTable from the latest snapshot")
        val neu = SnapTable.read(s, srcTable, Some(v))
        // the first available version diffs against the empty state
        // (every key an insert) — the bootstrap IS a fold
        val old = prevV.map(p => SnapTable.read(s, srcTable, Some(p)))
          .getOrElse(neu.filter(org.apache.spark.sql.functions.lit(false)))
        val delta = contrib(SnapTable.diff(old, neu, key, value, carry))
        val mv =
          if (SnapTable.versions(s, mvTable).isEmpty) delta
          else Mv.additiveMerge(
            SnapTable.read(s, mvTable), delta, mvKey, mvCols)
        SnapTable.commitIfAbsent(s, mv, mvTable, "overwrite", tag)
        folded += 1
        onVersion(v, (System.nanoTime() - t0) / 1e9)
      }
    }
    folded
  }

  /** THE LONG-LIVED WATCHER: drive [[runMaintain]] from a REAL
    * polling drain over the source's version stream — the source's
    * manifest directory IS its commit log, so a file-source stream
    * over `manifest-v*.txt` (one file per trigger) wakes the consumer
    * once per landed version, and each micro-batch folds whatever is
    * unconsumed (the batch CONTENT is irrelevant — arrival is the
    * signal; the cursor lives in the MV's own commit log, so a
    * replayed wake-up folds zero). `Trigger.AvailableNow` drains the
    * backlog and stops (the catch-up posture); a processing-time
    * trigger is the stand-watch posture (per-fold cost measured flat:
    * PLANS.md "Round 16: MV-consumer age study"). Source-side manifest
    * deletions by vacuum are invisible to the stream
    * (already-processed files may vanish freely; the file source only
    * tracks what it has seen). */
  def watch(s: SparkSession, srcTable: String, mvTable: String,
      key: String, value: String, carry: Seq[String],
      contrib: DataFrame => DataFrame,
      mvKey: String, mvCols: Seq[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      onVersion: (Int, Double) => Unit = (_, _) => ()): StreamingQuery =
    s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$srcTable/manifest-v*.txt")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        runMaintain(s, srcTable, mvTable, key, value, carry,
          contrib, mvKey, mvCols, onVersion)
        ()
      }
      .start()
}
