package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** POSIX-ustar member listing as a native codegen'd function over a
  * shard's opaque `binary` column — the scan-stage step that turns
  * "a directory of tar shards" (the WebDataset layout multimodal
  * training corpora ship in) into per-member rows without touching a
  * tar library or leaving the JVM: walk the 512-byte header blocks,
  * verify each header's byte-sum checksum, read the zero-padded octal
  * size, and emit `(name, offset, size)` per regular-file member so a
  * downstream `explode` + binary `substring` slices member bytes out
  * of the shard value Spark already holds.
  *
  * Malformed bytes degrade, never throw: a blob that does not start
  * with a checksum-valid header yields NULL; corruption mid-archive
  * ends the walk with the members already parsed (the salvageable
  * prefix — at corpus scale one truncated shard must not kill the
  * stage). Format per IEEE 1003.1 (pax §ustar header block); see
  * [[graft.sources.TarShards]] for the writer.
  */
object TarExprs {

  /** `array<struct<name:string, offset:long, size:long>>` of regular
    * members; offset addresses the first data byte inside the shard.
    * NULL when the bytes are not a ustar archive. */
  def tarEntries(c: Column): Column =
    NativeCall.column("tar_entries", TarEntries, "entries", TarEntries.Schema,
      Seq(BinaryType))(c)
}

object TarEntries extends Serializable {

  val Schema: ArrayType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("size", LongType, nullable = false))), containsNull = false)

  /** The regular members, or null for a blob whose first block is
    * not a checksum-valid ustar header; stops at the end-of-archive
    * zero block, at truncation, or at the first corrupt header past a
    * valid prefix. */
  def entries(b: Array[Byte]): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var pos = 0
    var first = true
    while (pos + 512 <= b.length) {
      if (b(pos) == 0) {
        // end-of-archive (or leading garbage on the very first block)
        return if (first) null else new GenericArrayData(out.toArray)
      }
      if (!checksumOk(b, pos)) {
        return if (first) null else new GenericArrayData(out.toArray)
      }
      val size = octal(b, pos + 124, 12)
      if (size < 0) {
        return if (first) null else new GenericArrayData(out.toArray)
      }
      // The 12-byte octal field admits sizes up to 8^11-1 (~8.5 GB); a
      // checksum-valid header whose size exceeds the bytes actually
      // remaining is corruption (or a hostile shard) — salvage the
      // members already parsed instead of walking past the end. Keep
      // the advance in Long: Int arithmetic here can round a ~2^32
      // size to a zero advance (infinite loop) or a negative pos.
      if (size > b.length.toLong - pos - 512L) {
        return if (first) null else new GenericArrayData(out.toArray)
      }
      first = false
      val typeflag = b(pos + 156)
      if (typeflag == '0' || typeflag == 0) {
        val name = cString(b, pos, 100)
        out += InternalRow(UTF8String.fromString(name),
          (pos + 512).toLong, size)
      }
      val next = pos.toLong + 512L + ((size + 511L) / 512L) * 512L
      if (next > b.length.toLong) {
        // member data runs to end-of-shard without its final padding
        return new GenericArrayData(out.toArray)
      }
      pos = next.toInt
    }
    if (first) null else new GenericArrayData(out.toArray)
  }

  /** ustar checksum: unsigned byte sum of the block with the checksum
    * field read as eight spaces, compared to the stored octal. */
  private def checksumOk(b: Array[Byte], pos: Int): Boolean = {
    var sum = 0L
    var i = 0
    while (i < 512) {
      sum += (if (i >= 148 && i < 156) 32 else b(pos + i) & 0xff)
      i += 1
    }
    val stored = octal(b, pos + 148, 8)
    stored >= 0 && stored == sum
  }

  /** Zero/space-padded octal field; tolerant of leading spaces and a
    * NUL/space terminator (the renderings in the wild). -1 on any
    * other byte. */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    val end = off + len
    while (i < end && (b(i) == ' ')) i += 1
    var any = false
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = (v << 3) | (b(i) - '0').toLong
      any = true
      i += 1
    }
    while (i < end && (b(i) == 0 || b(i) == ' ')) i += 1
    if (any && i == end) v else -1L
  }

  private def cString(b: Array[Byte], off: Int, max: Int): String = {
    var n = 0
    while (n < max && b(off + n) != 0) n += 1
    new String(b, off, n, "US-ASCII")
  }
}
