package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
import graft.ops.{Ols, SnapTable}

/** CONTINUOUS MODEL MAINTENANCE — streaming OLS with batch parity:
  * each micro-batch reduces to its normal-equation sufficient
  * statistics ([[Ols.stats]], one map-side-combined aggregate — the
  * batch never lands row-shaped anywhere), which fold ADDITIVELY into
  * a standing 1-row stats state republished on the snapshot protocol,
  * tagged with the batch id. Exactly-once is the tagged-manifest
  * contract: a replayed batch finds its tag and folds nothing, so the
  * statistics — and therefore the model solved from them — are a pure
  * function of the rows ever ingested. Because X'X/X'y addition is
  * exact and associative, the streamed model after N batches is
  * BIT-IDENTICAL to [[Ols.fit]] over the union of all batches: this
  * is not approximate online learning, it is the batch fit maintained
  * incrementally. Per-batch cost: one aggregate over the batch + one
  * (k+1)(k+4)/2-cell state row — independent of history size.
  *
  * The 100 TB shape: models retrain continuously as data lands; the
  * history is never rescanned, the state is O(k²) no matter the
  * corpus, and any consumer can time-travel the stats table to
  * re-solve the model AS OF any ingestion point.
  */
object OlsStream {

  private def statsSchema(k: Int): StructType =
    StructType(Ols.statsCols(k).map(c =>
      StructField(c, DecimalType(38, 0))))

  private def toDf(s: SparkSession, st: Ols.SuffStats): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(st.m.map(b =>
        new java.math.BigDecimal(b.bigInteger)))),
      statsSchema(st.k))

  private def fromRow(k: Int, row: Row): Ols.SuffStats =
    Ols.SuffStats(k, (0 until row.length).map(i =>
      BigInt(row.getDecimal(i).toBigInteger)).toVector)

  /** Latest standing statistics of `statsTable` (version `v` when
    * given — time travel re-solves the model AS OF any batch). */
  def statsOf(s: SparkSession, statsTable: String, k: Int,
      version: Option[Int] = None): Ols.SuffStats =
    fromRow(k, SnapTable.read(s, statsTable, version).head())

  /** Drain everything available from `stream`, folding each
    * micro-batch's sufficient statistics into `statsTable` (one
    * OVERWRITE snapshot per batch, tagged `batch-<id>` — replay folds
    * nothing twice) and return the model solved from the final
    * standing statistics. */
  def runFit(s: SparkSession, stream: DataFrame, features: Seq[String],
      target: String, statsTable: String, ckpt: String): Ols.Model = {
    val k = features.size
    Drain.foreachBatch(s, stream, ckpt) { (batch, batchId) =>
      val add = Ols.stats(batch, features, target)
      val standing =
        if (SnapTable.versions(s, statsTable).isEmpty)
          Ols.SuffStats(k, Vector.fill(add.m.size)(BigInt(0)))
        else statsOf(s, statsTable, k)
      SnapTable.commitIfAbsent(s, toDf(s, standing.add(add)),
        statsTable, "overwrite", s"batch-$batchId")
    }
    statsOf(s, statsTable, k).solve()
  }
}
