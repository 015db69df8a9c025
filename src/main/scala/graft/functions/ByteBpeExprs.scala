package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.ByteLevel

/** BYTE-LEVEL merge-ranked BPE — the full published GPT-2
  * construction: [[ByteLevel.Gpt2Pattern]] pre-tokenization, the
  * 256-symbol byte alphabet ([[ByteLevel.encode]]), then the ordered
  * merge loop of [[MergeRank]]. Unlike the letter-only merge path
  * (`MergeExprs`), pieces containing digits, punctuation, and
  * non-ASCII bytes participate in merges — so a published tokenizer's
  * merges file, loaded verbatim ([[graft.ops.Bpe.parseMergesVerbatim]]),
  * reproduces its segmentation on ARBITRARY text. With an empty merge
  * list the token count is exactly the UTF-8 byte count (every byte
  * its own symbol) — the published base case.
  *
  * Scale design matches the letter path: the serialized form is the
  * merge-pair list (a production tokenizer ships ~50k rules, a few
  * hundred KB — every task holds it, like a broadcast without the
  * join); the rank map builds lazily per JVM; per-pre-token results
  * memoize per executor (bounded), so a natural-language corpus pays
  * the merge loop once per distinct pre-token per executor, not once
  * per occurrence. Every [[ByteBpeExprs]] function is one codegen'd
  * call — token accounting stays inside WholeStageCodegen, never
  * leaving the scan stage.
  */
final case class ByteBpeRanker(merges: Seq[(String, String)]) extends MergeRank {

  // byte-level symbols never contain a raw space (byte 0x20 encodes
  // to 'Ġ'): a merge with one is not in byte-symbol space at all
  merges.foreach { case (a, b) =>
    require(!a.contains(' ') && !b.contains(' '),
      s"byte-level merge symbols must not contain raw spaces: '$a $b'")
  }

  protected def baseSymbols(w: String): Array[String] =
    ByteLevel.encode(w).map(_.toString).toArray

  /** Byte-level segmentation of ONE pre-token: encode to byte
    * symbols, then the shared merge loop (same fixpoint as the
    * one-at-a-time replay the oracle runs — see [[MergeRank]]'s
    * equivalence note). */
  def segmentPreToken(w: String): Array[String] = segment(w)

  /** The merge-derived VOCABULARY, by the published construction: the
    * 256 byte symbols first in ascending mapped-code-point order
    * (id of '!' is 0, 'Ċ' 198, 'Ġ' 220 — NOT raw byte value; the
    * GPT-2 vocab sorts its base alphabet), then one piece per merge
    * rule in rank order (id = 256 + rank). With a published merges
    * file these ids ARE (up to appended special tokens) its published
    * token ids. First-wins on the rare duplicate piece (a redundant
    * rule can re-create an existing spelling — the earlier id is the
    * one inference produces). */
  @transient private lazy val pieceId: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](256 + merges.size * 2)
    ByteLevel.symbolsByIdOrder.zipWithIndex.foreach { case (c, id) =>
      m.put(c.toString, Integer.valueOf(id))
    }
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + b, Integer.valueOf(256 + i))
    }
    m
  }

  /** Token IDS of a document — the training-batch currency itself
    * (what a packed sequence actually contains). Total by
    * construction: every piece is either a byte symbol or a merge
    * product, so lookup cannot miss. */
  def tokenIds(s: UTF8String): GenericArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    ByteLevel.preTokenize(s.toString).foreach { w =>
      val syms = segment(w)
      var i = 0
      while (i < syms.length) {
        val id = pieceId.get(syms(i))
        assert(id != null, s"piece '${syms(i)}' missing from merge-derived vocab")
        out += id.intValue()
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Inverse vocabulary, id -> piece, in the same published numbering
    * as `pieceId` (256 base symbols by sorted code point, then one
    * piece per rule). A redundant rule's product decodes to the same
    * spelling as the earlier id, so first-wins on the encode side
    * never breaks the round trip. */
  @transient private lazy val idPiece: Array[String] = {
    val arr = new Array[String](256 + merges.size)
    ByteLevel.symbolsByIdOrder.zipWithIndex.foreach { case (c, id) =>
      arr(id) = c.toString
    }
    merges.zipWithIndex.foreach { case ((a, b), i) => arr(256 + i) = a + b }
    arr
  }

  /** Detokenize: ids -> pieces -> byte symbols -> UTF-8 text. The
    * loader-faithfulness direction — proves the id stream alone
    * reconstructs the document. Loud on ids outside the vocabulary. */
  def decodeIds(ids: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      require(!ids.isNullAt(i),
        s"null token id at position $i — the id stream must be total")
      val id = ids.getInt(i)
      require(id >= 0 && id < idPiece.length,
        s"token id $id outside the merge-derived vocab (size ${idPiece.length})")
      sb.append(idPiece(id))
      i += 1
    }
    UTF8String.fromString(ByteLevel.decode(sb.toString))
  }

  /** Token count of a document: every char is in exactly one
    * [[ByteLevel.Gpt2Pattern]] pre-token; no fallback path exists —
    * the byte alphabet covers everything. */
  def countTokens(s: UTF8String): Long = {
    var n = 0L
    ByteLevel.preTokenize(s.toString)
      .foreach(w => n += segment(w).length)
    n
  }

  /** Full-document segmentation: the pieces, in byte-symbol space
    * (the spelling published tokenizers display — "Ġthe"). */
  def tokenize(s: UTF8String): GenericArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](16)
    ByteLevel.preTokenize(s.toString).foreach { w =>
      segment(w).foreach(p => out += UTF8String.fromString(p))
    }
    new GenericArrayData(out.toArray)
  }
}

/** Byte-level BPE as native functions over one [[ByteBpeRanker]]:
  * each is one call per row inside the enclosing whole-stage codegen
  * stage. */
object ByteBpeExprs {
  private def call(name: String, method: String, out: DataType, in: DataType,
      c: Column, merges: Seq[(String, String)]): Column =
    NativeCall.column(name, ByteBpeRanker(merges), method, out, Seq(in))(c)

  def byteTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    call("byte_bpe_token_count", "countTokens", LongType, StringType, text, merges)

  /** The token array, pieces in byte-symbol space. */
  def byteTokenize(text: Column, merges: Seq[(String, String)]): Column =
    call("byte_bpe_tokenize", "tokenize",
      ArrayType(StringType, containsNull = false), StringType, text, merges)

  /** Token ids under the merge-derived vocabulary: `array<int>`, the
    * dtype a packed training batch stores. */
  def byteTokenIds(text: Column, merges: Seq[(String, String)]): Column =
    call("byte_bpe_token_ids", "tokenIds",
      ArrayType(IntegerType, containsNull = false), StringType, text, merges)

  /** Detokenization: `array<int>` token ids back to the document text,
    * the proof that the id stream is a loader-faithful artifact. */
  def byteDecodeIds(ids: Column, merges: Seq[(String, String)]): Column =
    call("byte_bpe_decode", "decodeIds", StringType,
      ArrayType(IntegerType), ids, merges)
}
