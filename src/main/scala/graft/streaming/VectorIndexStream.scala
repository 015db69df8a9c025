package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Ivf, Similarity}

/** CONTINUOUS vector-index ingestion — the vector-store write path as
  * a Structured-Streaming drain: arriving embedding batches assign to
  * their nearest centroid and append cluster-partitioned
  * inverted-list rows; queries are served from the PERSISTED standing
  * index, never from the stream.
  *
  * The quantizer is trained OFFLINE from a snapshot and FROZEN — the
  * contract every production IVF store uses (re-training moves
  * assignments, so the quantizer versions with the index, exactly as
  * the mixture rates version with the curation drain). Each batch is
  * therefore pure per-row arithmetic against a broadcast centroid
  * table: the drain holds no cross-batch state beyond the index
  * partitions themselves.
  *
  * Batches commit on the [[Drain]] protocol with the per-cluster
  * count manifest as the marker: a redelivered batch no-ops, and
  * in-drain compaction bounds the standing partition count with
  * crash-safe roll-forward.
  */
object VectorIndexStream {

  /** Drain `stream` (vec_id, embedding) through assignment with
    * `Trigger.AvailableNow`; returns the accumulated per-cluster
    * manifest (batch, cluster, n_vecs). */
  def runIngest(
      s: SparkSession, stream: DataFrame,
      centroids: Array[Array[Double]], indexDir: String,
      manifestDir: String, checkpointDir: String,
      compactEvery: Option[Int] = None, keepRecent: Int = 2): DataFrame = {
    Drain.foreachBatch(s, stream, checkpointDir, compactEvery.map(n =>
        Drain.Compaction(n, keepRecent, manifestDir,
          Seq(Drain.Table(indexDir, Seq("cluster")))))) { (batch, batchId) =>
      ingestBatch(s, batch, centroids, indexDir, manifestDir, batchId)
    }
    Drain.readBack(s, manifestDir).orderBy(col("batch"), col("cluster"))
  }

  /** One ingestion cycle — also usable by a batch caller. Idempotent
    * per (dirs, batchId). */
  def ingestBatch(
      s: SparkSession, batch: DataFrame,
      centroids: Array[Array[Double]], indexDir: String,
      manifestDir: String, batchId: Long): Unit =
    Drain.gate(s, manifestDir, batchId, Seq(indexDir)) {
      val asg = graft.core.CacheScope.cache(
        Ivf.assigned(Similarity.prepared(batch), centroids))
      asg.select(col("cluster"), col("vec_id"), col("v"), col("nrm"))
        .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
      asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
        .write.mode("overwrite").parquet(s"$manifestDir/batch=$batchId")
    }

  /** Probe-limited top-k served from the STANDING index: only
    * marker-committed batches are read (a torn batch — index written,
    * manifest not — is invisible). STRICTLY READ-ONLY: unlike the
    * drain's cycles this never runs compaction recovery — a reader
    * must not delete a concurrent compactor's stage. Instead it reads
    * a consistent VIEW of a possibly mid-compaction index: a
    * completed stage (`.compact_C/_SUCCESS`) holds every row of the
    * batches it merged and supersedes them; an unfinished stage is
    * ignored (its sources are intact); and any committed batch
    * covered by neither is a loud error, never a silent partial
    * result. Probe/score/rank is [[Ivf.probeTopK]] — the one spelling
    * both the batch IVF entry and this search share. */
  def searchStanding(
      s: SparkSession, indexDir: String, manifestDir: String,
      queries: DataFrame, centroids: Array[Array[Double]],
      k: Int, nProbe: Int): DataFrame = {
    val indexPath = new Path(indexDir)
    val ifs = indexPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val committed = Drain.committed(s, manifestDir)
    require(committed.nonEmpty, s"no committed batches under $manifestDir")
    val present = Drain.batchIds(ifs, indexPath).toSet
    val stageDone: Option[Long] = Drain.stages(ifs, indexPath)
      .filter(p => ifs.exists(new Path(p, "_SUCCESS")))
      .map(_.getName.stripPrefix(".compact_").toLong)
      .sorted.lastOption
    val paths: Seq[String] = stageDone match {
      case Some(c) =>
        val tail = committed.filter(_ > c)
        val missing = tail.filterNot(present)
        require(missing.isEmpty,
          s"committed batches ${missing.mkString(", ")} absent from " +
            s"$indexDir beyond staged cutoff $c — torn index")
        s"$indexDir/.compact_$c" +: tail.map(b => s"$indexDir/batch=$b")
      case None =>
        // compaction only ever merges a PREFIX into its cutoff, so
        // the smallest present partition covers everything below it
        val floor = present.toSeq.sorted.headOption.getOrElse(
          sys.error(s"no index partitions under $indexDir"))
        val wanted = floor +: committed.filter(_ > floor)
        val missing = wanted.filterNot(present)
        require(missing.isEmpty,
          s"committed batches ${missing.mkString(", ")} absent from " +
            s"$indexDir — mid-compaction swap or torn index; retry " +
            "(recovery runs in the single-writer drain)")
        wanted.map(b => s"$indexDir/batch=$b")
    }
    // direct partition paths (no basePath): uniform schema with no
    // batch column, whether a path is a stage dir or a batch dir
    val idx = s.read.parquet(paths: _*)
    Ivf.probeTopK(idx, Similarity.prepared(queries), centroids, k, nProbe)
  }
}
