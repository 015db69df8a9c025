package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Library-owned session posture: the one place a session is built,
  * the confs every runner (Bench / Verify / Explain / the test
  * session / a user pipeline) must share for the operators here
  * to keep their measured plan shapes, and the partition derivation
  * (optimization guide §2: partition counts derive from DATA SIZE,
  * never from whatever core count the host happens to provide).
  *
  * Three pieces:
  *
  *  - [[session]]: the factory every runner calls.
  *
  *  - [[defaults]]: session confs the operators' plan shapes depend
  *    on. `canChangeCachedPlanOutputPartitioning` lived only in the
  *    runner builders in round 17 — a consumer building their own
  *    session silently lost the cached-plan coalescing every snapshot
  *    entry's one-scan pre-aggregate depends on (r17 A/B:
  *    q_snapshot_merge 9.52 s with it off vs 2.59 s on, same code).
  *    Owning the list here makes the posture part of the library.
  *
  *  - [[dirBytes]] / [[scaledPartitions]]: shuffle partitions derived
  *    from INPUT BYTES, shared by the batch derivation
  *    ([[tuneForData]], [[BatchTargetBytes]] per partition) and the
  *    per-stream one ([[graft.streaming.StreamTune]],
  *    [[StreamTargetBytes]]). Measured motivation (r17 driver scaling
  *    block): with partitions pinned to the core count, the sf0.1
  *    suite ran 13% FASTER on 8 cores than 32 — a dozen entries ~2x
  *    slower at 32 — pure per-task fixed cost on partitions that hold
  *    a few hundred KB each. Deriving from bytes makes the count
  *    scale-adaptive: tiny inputs get few partitions regardless of
  *    host width, and at 100 TB the byte term (bytes / 2 MiB)
  *    saturates any practical core clamp, so nothing here is a
  *    local[N] tuning constant.
  */
object SessionTune {

  /** Input bytes one batch shuffle partition should own. Measured
    * full-suite A/B at sf0.1 (17 MB of input): a 2 MiB target (9
    * partitions) beat both a 32 MiB target (2 partitions, 265.9 vs
    * 276.4 s — iterative/compute-heavy entries serialize at 2) and
    * the old cores-pinned 32 (277.3 s). The constant only governs the
    * small-data transition zone: any production corpus saturates the
    * 4 x defaultParallelism clamp long before the byte term binds
    * (100 TB / 2 MiB >> any cluster's core count), and AQE's advisory
    * coalescing still owns the post-shuffle merge decision. */
  val BatchTargetBytes: Long = 2L << 20

  /** Source bytes one streaming shuffle/state partition should own
    * (see [[graft.streaming.StreamTune]] for the per-trigger
    * state-store cost it bounds). */
  val StreamTargetBytes: Long = 16L << 20

  /** Characters of plan text the driver renders per description
    * (`spark.sql.maxPlanStringLength`, see [[defaults]]). */
  val MaxPlanText: Int = 256 << 10

  /** Session confs the library's plan shapes assume. [[session]]
    * applies them; all are runtime-settable, so a user session can
    * take them with `spark.conf.set`.
    *
    * `spark.sql.maxPlanStringLength` bounds the plan text the driver
    * renders and retains. Spark renders a `formatted` description at
    * every SQL execution start and every AQE re-plan, UI on or off,
    * and keeps the latest one per execution in the SQL status store.
    * A cached plan prints inside every plan that reads it, and AQE
    * prints its final and its initial plan, so a scoped cache read
    * twice per level (the curation chain) grows the text 4x per
    * level: the final `q_curation_full` collect rendered 27.4 M
    * characters across 8 descriptions (4.26 M the largest), and the
    * status store kept 8.8 MB of it, 8% of the driver heap peak.
    * Spark's own conf doc says to set this lower "if plan strings are
    * taking up too much memory". At 256 KiB the plans without
    * repeated nesting stay whole (the largest in a `graft.Verify`
    * sweep, `q_curation_e2e`, is 245 K characters); a longer text is
    * cut with Spark's `... N more characters` marker and a WARN
    * naming its full length. The cap covers SQL-start and
    * AQE-update descriptions, cached-RDD names and `explain`, so
    * [[graft.Explain]] dumps carry it too. No library check reads
    * plan text (the plan checks walk the tree, [[Plans]]), so a cut
    * description never changes an answer. */
  val defaults: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    // AQE may re-partition the OUTPUT of cached plans: a persisted
    // aggregate otherwise materializes at the static shuffle-partition
    // count and every downstream action pays that task count
    // regardless of data size (byte-driven at any scale).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.maxPlanStringLength" -> MaxPlanText.toString)

  /** The library session: `local[cpus]`, no UI, every [[defaults]]
    * entry and `logLevel`; with a `dataDir`, batch shuffle partitions
    * sized to its bytes ([[tuneForData]]). */
  def session(cpus: Int, dataDir: Option[String] = None,
      logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
    defaults.foreach { case (k, v) => builder.config(k, v) }
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    dataDir.foreach(tuneForData(s, _))
    s
  }

  /** Total bytes under `dir` (metadata-only, glob-aware). A missing
    * path or an empty glob reads 0 — callers fall to the minimum
    * partition count; any other IOException propagates, so a broken
    * store never silently sizes the session at the floor. */
  def dirBytes(s: SparkSession, dir: String): Long = {
    val hp = new Path(dir)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil)
      matched.map { st =>
        if (st.isDirectory) fs.getContentSummary(st.getPath).getLength
        else st.getLen
      }.sum
    } catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Shuffle-partition count for `bytes` of input at `target` bytes
    * per partition: ceil(bytes / target) clamped to
    * [2, 4 x defaultParallelism]. */
  def scaledPartitions(s: SparkSession, bytes: Long, target: Long): Int = {
    val byBytes = (bytes + target - 1) / target
    val cap = 4L * s.sparkContext.defaultParallelism
    math.max(2L, math.min(byBytes, cap)).toInt
  }

  /** Point the session's `spark.sql.shuffle.partitions` at the size
    * of the data under `dir`. Returns the count it set. */
  def tuneForData(s: SparkSession, dir: String): Int = {
    val n = scaledPartitions(s, dirBytes(s, dir), BatchTargetBytes)
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    n
  }
}
