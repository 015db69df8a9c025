package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** MinHash signature of one document as a [[NativeAgg]] fold: slot i
  * is the min over the document's shingle hashes `hg` of the affine
  * permutation `(a_i * hg + b_i) mod (2^31-1)`
  * ([[HashParity.minhashA]], [[HashParity.minhashB]]). Each shingle is
  * hashed once and the k slots are one loop, bit for bit the k
  * `min((a_i * hg + b_i) % P)` aggregates the DuckDB oracle replays. */
final case class MinHashFold(k: Int) extends LongFold {
  private val a = Array.tabulate(k)(HashParity.minhashA)
  private val b = Array.tabulate(k)(HashParity.minhashB)

  def width: Int = k
  def zero: Long = Long.MaxValue

  def update(buf: InternalRow, off: Int, hg: Long): Unit = {
    var i = 0
    while (i < k) {
      val h = (a(i) * hg + b(i)) % HashParity.MinhashP
      if (h < buf.getLong(off + i)) buf.setLong(off + i, h)
      i += 1
    }
  }

  def merge(x: Long, y: Long): Long = math.min(x, y)
}

/** SimHash bit-majority counters as a [[NativeAgg]] fold: counter b
  * adds +1 for every token hash with bit b set and -1 for every one
  * without, the `sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END)`
  * of the DuckDB oracle. [[Sketch.simhashBits]] assembles the
  * fingerprint. */
final case class SimHashFold(bits: Int) extends LongFold {
  def width: Int = bits
  def zero: Long = 0L

  def update(buf: InternalRow, off: Int, th: Long): Unit = {
    var i = 0
    while (i < bits) {
      buf.setLong(off + i, buf.getLong(off + i) + (((th >>> i) & 1L) << 1) - 1L)
      i += 1
    }
  }

  def merge(x: Long, y: Long): Long = x + y
}

/** Row kernels over a sketch's words. */
object Sketch extends Serializable {

  /** LSH band hashes of a MinHash signature: band j is the 60-bit
    * md5-parity hash ([[HashParity.h60]]) of slots `j*bandSize` to
    * `(j+1)*bandSize - 1` joined with commas, for `nBands` bands. The
    * first 15 hex digits of the md5 are the top 60 bits of its first
    * 8 bytes. */
  def lshBands(sig: ArrayData, nBands: Int, bandSize: Int): UnsafeArrayData = {
    require(sig.numElements() >= nBands * bandSize,
      s"lsh_bands: $nBands bands of $bandSize slots need ${nBands * bandSize}, got ${sig.numElements()}")
    val md5 = MessageDigest.getInstance("MD5")
    val out = new Array[Long](nBands)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < nBands) {
      sb.setLength(0)
      var i = j * bandSize
      while (i < (j + 1) * bandSize) {
        if (i > j * bandSize) sb.append(',')
        sb.append(sig.getLong(i))
        i += 1
      }
      val d = md5.digest(sb.toString.getBytes("UTF-8"))
      var top = 0L
      var k = 0
      while (k < 8) { top = (top << 8) | (d(k) & 0xffL); k += 1 }
      out(j) = top >>> 4
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** SimHash fingerprint from [[SimHashFold]] counters: bit b is set
    * when counter b is positive. */
  def simhashBits(counters: ArrayData): Long = {
    var r = 0L
    var b = 0
    while (b < counters.numElements()) {
      if (counters.getLong(b) > 0L) r |= 1L << b
      b += 1
    }
    r
  }
}

object SketchExprs {

  /** `minhash(hg)`: the k-slot MinHash signature of a 28-bit shingle
    * hash column, as `array<bigint>`. */
  def minhash(hg: Column, k: Int): Column =
    NativeAgg.column("minhash", MinHashFold(k))(hg.cast("long"))

  /** `simhash_counters(th)`: the bit-majority counters of a token hash
    * column, as `array<bigint>`. */
  def simhashCounters(th: Column, bits: Int): Column =
    NativeAgg.column("simhash_counters", SimHashFold(bits))(th.cast("long"))

  /** `lsh_bands(sig, nBands, bandSize)`: [[Sketch.lshBands]]. */
  def lshBands(sig: Column, nBands: Int, bandSize: Int): Column =
    NativeCall.column("lsh_bands", Sketch, "lshBands", ArrayType(LongType, containsNull = false),
      Seq(ArrayType(LongType), IntegerType, IntegerType))(sig, lit(nBands), lit(bandSize))

  /** `simhash_bits(counters)`: [[Sketch.simhashBits]]. */
  def simhashBits(counters: Column): Column =
    NativeCall.column("simhash_bits", Sketch, "simhashBits", LongType,
      Seq(ArrayType(LongType)))(counters)
}
