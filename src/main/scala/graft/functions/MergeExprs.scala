package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Merge-ranked (true BPE) tokenization, the one inference loop both
  * merge rankers share ([[MergeRanker]] over letters, [[ByteBpeRanker]]
  * over bytes; they differ only in how a pre-token splits into base
  * symbols). Apply an ORDERED merge-rule list exactly the way
  * published byte-pair tokenizers do — repeatedly merge the adjacent
  * symbol pair with the lowest merge rank, all occurrences
  * left-to-right, until no listed pair remains. This is
  * the inference loop of the Sennrich et al. (ACL 2016) subword-BPE
  * construction as popularized by the GPT-2 tokenizer; unlike greedy
  * longest-match ([[ByteTrie]], WordPiece-style), it reproduces a real
  * tokenizer's segmentation given its merges file verbatim.
  *
  * Equivalence note used by the DuckDB oracle: merging ONE leftmost
  * occurrence of the current min-rank pair per step produces the same
  * fixpoint as merging all occurrences per step, because a valid
  * merge list creates a symbol before any later rule consumes it —
  * so no pair involving a freshly merged symbol can outrank the pair
  * just merged. The oracle recursion takes the one-at-a-time route;
  * this class takes the all-occurrences route (fewer passes).
  *
  * Scale design mirrors [[ByteTrie]]: the serialized form is the
  * merge-pair list (bounded-small — a production tokenizer ships
  * ~50k rules ≈ a few hundred KB); the rank map builds lazily per
  * JVM. Per-pre-token results are memoized per instance (bounded), so
  * a natural-language corpus — whose distinct-word count is far below
  * its token count — pays the merge loop once per distinct word per
  * executor, not once per occurrence. A ranker compares by its merge
  * list, so plans built from equal merges are `sameSemantics`.
  */
abstract class MergeRank extends Serializable {

  /** The ordered merge rules; a rule's rank is its index. */
  def merges: Seq[(String, String)]

  /** A pre-token's base symbols, before any merge. */
  protected def baseSymbols(w: String): Array[String]

  @transient private lazy val pairs: Array[(String, String)] = merges.toArray

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pairs.length * 2)
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + "\u0000" + b, Integer.valueOf(i))
    }
    m
  }

  // per-JVM pre-token cache; bounded in BOTH entry count and entry
  // size (pre-tokens are unbounded runs, so a count cap alone would
  // let an adversarial corpus of huge distinct runs retain gigabytes
  // per executor). Beyond either bound every pre-token still computes
  // correctly, just uncached.
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** Segment one pre-token by ordered merge rules: merge every
    * occurrence of the lowest-ranked adjacent pair until no listed
    * pair remains. */
  protected final def segment(w: String): Array[String] = {
    val cached = memo.get(w)
    if (cached != null) return cached
    var syms = baseSymbols(w)
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.get(syms(i) + "\u0000" + syms(i + 1))
        if (r != null && r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        // merge every occurrence of the winning pair, left to right
        // (overlaps resolve leftmost-first: "aaa" + (a,a) -> [aa, a])
        val (pa, pb) = pairs(bestRank)
        val out = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == pa && syms(j + 1) == pb) {
            out += pa + pb
            j += 2
          } else {
            out += syms(j)
            j += 1
          }
        }
        syms = out.result()
      }
    }
    if (w.length <= MergeRank.MemoMaxLen && memo.size < MergeRank.MemoCap)
      memo.put(w, syms)
    syms
  }
}

object MergeRank {
  private val MemoCap = 1 << 16
  private val MemoMaxLen = 1 << 12
}

/** The letter-level merge ranker: pre-tokens are ` ?[A-Za-z]+` runs,
  * split into one base symbol per character. */
final case class MergeRanker(merges: Seq[(String, String)]) extends MergeRank {

  protected def baseSymbols(w: String): Array[String] = w.map(_.toString).toArray

  /** Segment one pre-token (` ?[A-Za-z]+`) by ordered merge rules. */
  def segmentWord(w: String): Array[String] = segment(w)

  private def isLetter(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  /** Full-document SEGMENTATION: merge-segmented pre-token runs plus
    * one piece per other code point — [[countTokens]]'s walk emitting
    * the pieces, as catalyst array data. */
  def tokenize(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val len = str.length
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](
      math.max(8, len / 3))
    var i = 0
    while (i < len) {
      val c = str.charAt(i)
      if (isLetter(c) ||
          (c == ' ' && i + 1 < len && isLetter(str.charAt(i + 1)))) {
        val start = i
        if (c == ' ') i += 1
        while (i < len && isLetter(str.charAt(i))) i += 1
        segment(str.substring(start, i))
          .foreach(p => out += UTF8String.fromString(p))
      } else {
        val w = if (Character.isHighSurrogate(c) && i + 1 < len &&
                    Character.isLowSurrogate(str.charAt(i + 1))) 2 else 1
        out += UTF8String.fromString(str.substring(i, i + w))
        i += w
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Token count of a document: pre-token runs (` ?[A-Za-z]+`) are
    * merge-segmented; every other position is a single-code-point
    * fallback token — the same text decomposition as [[ByteTrie]]'s
    * greedy path, so the two counters differ only in the in-word
    * scheme. */
  def countTokens(s: UTF8String): Long = {
    val str = s.toString
    val len = str.length
    var n = 0L
    var i = 0
    while (i < len) {
      val c = str.charAt(i)
      if (isLetter(c) ||
          (c == ' ' && i + 1 < len && isLetter(str.charAt(i + 1)))) {
        val start = i
        if (c == ' ') i += 1
        while (i < len && isLetter(str.charAt(i))) i += 1
        n += segment(str.substring(start, i)).length
      } else {
        // fallback: one token per code point (surrogate pair = one)
        i += (if (Character.isHighSurrogate(c) && i + 1 < len &&
                  Character.isLowSurrogate(str.charAt(i + 1))) 2 else 1)
        n += 1
      }
    }
    n
  }
}

/** Merge-ranked BPE as native functions: [[ByteTrie]]'s greedy walk
  * replaced by the [[MergeRanker]] loop, one call per row inside the
  * enclosing whole-stage codegen stage. */
object MergeExprs {
  def mergeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    NativeCall.column("bpe_merge_token_count", MergeRanker(merges),
      "countTokens", LongType, Seq(StringType))(text)

  /** The token array under the merge list. */
  def mergeTokenize(text: Column, merges: Seq[(String, String)]): Column =
    NativeCall.column("bpe_merge_tokenize", MergeRanker(merges),
      "tokenize", ArrayType(StringType, containsNull = false),
      Seq(StringType))(text)
}
