package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** RIFF/AVI video-container parsing as native codegen'd functions
  * over an opaque `binary` column — the video-modality member of the
  * real-bytes family (PNG pixels, tar shards, WAV PCM): a real chunk
  * walk that DESCENDS into LIST chunks (RIFF is uniformly chunked,
  * so sequential walking through list bodies is exact), the `avih`
  * main header and `vids` stream header for timing/dims, and the
  * `movi` frame chunks for per-frame byte extents — each frame of an
  * MJPG stream is a complete JPEG, so a downstream binary
  * `substring` + [[MediaExprs.imageDims]] runs the SAME frame-level
  * parse the flat corpus uses (the tar-shard slicing pattern).
  *
  * Malformed bytes degrade to NULL / the salvageable frame prefix,
  * never an exception; all size arithmetic is Long-guarded against
  * hostile ~2^31 size fields (the TarEntries lesson).
  */
object AviExprs {

  /** `array<long>` of 5: width, height, total frames (avih), rate,
    * scale (strh of the first `vids` stream; fps = rate/scale). NULL
    * unless the bytes are a RIFF/AVI with both headers present. */
  def aviMeta(c: Column): Column =
    NativeCall.column("avi_meta", AviWalk, "meta",
      ArrayType(LongType, containsNull = false), Seq(BinaryType))(c)

  /** `array<struct<idx:long, offset:long, size:long>>` of the movi
    * video-frame chunks (00dc/00db) in stream order; offset addresses
    * the first payload byte inside the container. */
  def aviFrames(c: Column): Column =
    NativeCall.column("avi_frames", AviWalk, "frames", AviWalk.FramesSchema,
      Seq(BinaryType))(c)
}

object AviWalk extends Serializable {

  val FramesSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("idx", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("size", LongType, nullable = false))), containsNull = false)

  /** [width, height, nFrames, rate, scale] or null. */
  def meta(b: Array[Byte]): GenericArrayData = {
    var w = -1L; var h = -1L; var n = -1L; var rate = -1L; var scale = -1L
    val ok = walk(b, (cc, off, size) => {
      if (cc == 0x61766968 /* 'avih' */ && size >= 40) {
        n = le32(b, off + 16) & 0xffffffffL
        w = le32(b, off + 32) & 0xffffffffL
        h = le32(b, off + 36) & 0xffffffffL
      } else if (cc == 0x73747268 /* 'strh' */ && size >= 32 && rate < 0 &&
        le32(b, off) == 0x73646976 /* 'vids' LE read of fourcc */ ) {
        // rate < 0 guard: only the FIRST vids strh records timing (the
        // documented contract); later video streams must not overwrite.
        scale = le32(b, off + 20) & 0xffffffffL
        rate = le32(b, off + 24) & 0xffffffffL
      }
      true
    })
    if (!ok || w <= 0 || h <= 0 || n < 0 || rate <= 0 || scale <= 0) null
    else new GenericArrayData(Array(w, h, n, rate, scale))
  }

  /** Video frame chunks in order, or null when the bytes are not a
    * RIFF/AVI at all. Corruption mid-container salvages the frames
    * already walked (the tar-shard contract). */
  def frames(b: Array[Byte]): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var idx = 0L
    val ok = walk(b, (cc, off, size) => {
      // '00dc' compressed / '00db' uncompressed video chunk
      if (cc == 0x30306463 || cc == 0x30306462) {
        out += InternalRow(idx, off.toLong, size.toLong)
        idx += 1
      }
      true
    })
    if (!ok && out.isEmpty) null else new GenericArrayData(out.toArray)
  }

  /** Sequential chunk walk from byte 12, descending into LIST bodies
    * (all RIFF content is uniformly chunked, so sequential traversal
    * through list payloads visits every chunk exactly once). Calls
    * `f(fourccBE, payloadOffset, size)` per non-LIST chunk. Returns
    * false when the container is not RIFF or a header lies about its
    * extent (callers may still salvage what `f` saw). */
  private def walk(b: Array[Byte],
      f: (Int, Int, Int) => Boolean): Boolean = {
    if (b.length < 12) return false
    if (be32(b, 0) != 0x52494646 /* RIFF */) return false
    if (be32(b, 8) != 0x41564920 /* 'AVI ' */) return false
    var pos = 12
    while (pos + 8 <= b.length) {
      val cc = be32(b, pos)
      val size = le32(b, pos + 4)
      if (size < 0 || pos.toLong + 8L + size > b.length.toLong) return false
      if (cc == 0x4c495354 /* LIST */) {
        if (size < 4) return false
        pos += 12 // descend: list payload starts with its type fourcc
      } else {
        if (!f(cc, pos + 8, size)) return true
        pos += 8 + size + (size & 1)
      }
    }
    true
  }

  private def be32(b: Array[Byte], i: Int): Int = ByteReads.be32(b, i)

  private def le32(b: Array[Byte], i: Int): Int = ByteReads.le32(b, i)
}
