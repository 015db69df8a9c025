package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType

/** Z-ORDER (Morton) interleave of two non-negative long keys — the
  * multi-dimensional clustering primitive: sorting by the interleaved
  * key places rows close in BOTH dimensions into the same files, so
  * parquet min/max footer stats stay narrow on each dimension
  * separately and a range predicate on either column prunes row
  * groups. A linear sort gives this on its leading column only; at
  * 100 TB the difference is scanning one dimension's slice versus the
  * whole table (the Delta/Iceberg OPTIMIZE ZORDER technique, here as
  * a plain codegen'd function + range-partitioned write).
  */
object ZOrder extends Serializable {

  /** Bit-interleave two keys in [0, 2^31): a's bits land on even
    * positions, b's on odd — 62 bits out, order-preserving per
    * dimension. Loud outside the domain (aliasing high bits would
    * silently destroy locality). */
  def interleave(a: Long, b: Long): Long = {
    require(a >= 0L && a < (1L << 31) && b >= 0L && b < (1L << 31),
      s"zorder keys must lie in [0, 2^31): got ($a, $b)")
    var r = 0L
    var i = 0
    while (i < 31) {
      r |= ((a >> i) & 1L) << (2 * i)
      r |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }
}

object ZOrderExprs {
  /** [[ZOrder.interleave]] as a native function; any integral key
    * column is cast to long here. */
  def interleaveBits(a: Column, b: Column): Column =
    NativeCall.column("interleave_bits", ZOrder, "interleave", LongType,
      Seq(LongType, LongType))(a.cast("long"), b.cast("long"))
}
