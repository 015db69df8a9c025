package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level trie for greedy longest-match tokenization — the
  * scale path for [[graft.ops.Bpe]] when the vocabulary outgrows the
  * compiled-alternation regex: the regex scan costs O(pieces tried)
  * per position, the trie walk O(matched length), independent of
  * vocabulary size (a 50k-piece production vocab is ~300x more
  * alternatives for the regex but the same walk for the trie —
  * measured in PLANS.md under `q_pack_bpe50k`).
  *
  * Vocab pieces are ASCII (` ?[A-Za-z]+`, enforced by
  * [[graft.ops.Bpe.tokenPattern]]'s contract), so the trie indexes
  * raw UTF-8 bytes; unmatched positions consume one UTF-8 code point
  * (the regex path's `[\s\S]` also consumes one code point — Java
  * regex and RE2 both treat a supplementary character as a single
  * match, pinned by BpeSpec on astral-plane text).
  *
  * Scale design (the 50k-piece path):
  *  - the serialized form is ONLY the piece list (~300 KB at 50k
  *    pieces); the transition tables are `@transient lazy` and built
  *    on first use in each JVM, NOT shipped with the plan — a flat
  *    eagerly-serialized table would put tens of MB into every task
  *    binary.
  *  - the alphabet is compressed to the symbols the vocab actually
  *    uses (space + letters = 53 for the Bpe contract) instead of a
  *    128-way fan-out, cutting the resident table ~2.4x. A vocab
  *    that is prefix-closed (every node terminal) has ~|pieces|
  *    nodes, so 50k pieces ≈ 50k * 53 * 4 B ≈ 10 MB resident.
  *  - builds are memoized per JVM keyed by an md5 of the piece list,
  *    so the table is constructed once per executor, not once per
  *    task deserialization.
  *  - a trie compares by its piece list, so two plans built from
  *    equal vocabularies are `sameSemantics`.
  */
final case class ByteTrie(pieces: Seq[String]) {

  // built per JVM via the companion's memo cache; never serialized
  @transient private lazy val t: ByteTrie.Tables = ByteTrie.tablesFor(pieces)

  /** Longest vocab piece matching at `start`, 0 if none. */
  private def longestMatch(b: Array[Byte], start: Int): Int = {
    val sym = t.sym
    val next = t.next
    val nSyms = t.nSyms
    var node = 0
    var i = start
    var best = 0
    while (i < b.length && b(i) >= 0) { // ASCII bytes only can advance
      val s = sym(b(i))
      if (s < 0) return best
      val child = next(node * nSyms + s)
      if (child == -1) return best
      node = child
      i += 1
      if (t.terminalLen(node) > best) best = t.terminalLen(node)
    }
    best
  }

  /** Greedy longest-match token count (called from generated code). */
  def countTokens(s: UTF8String): Long = {
    val b = s.getBytes
    var i = 0
    var n = 0L
    while (i < b.length) {
      val m = longestMatch(b, i)
      if (m > 0) i += m
      else {
        // fallback: one UTF-8 code point (lead byte gives the width)
        val lead = b(i) & 0xff
        i += (if (lead < 0x80) 1 else if (lead < 0xe0) 2
              else if (lead < 0xf0) 3 else 4)
      }
      n += 1
    }
    n
  }

  /** Greedy longest-match SEGMENTATION: the token pieces themselves
    * (vocab matches + single-code-point fallbacks), as catalyst array
    * data — same walk as [[countTokens]], materializing slices. */
  def tokenize(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val b = s.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](
      math.max(8, b.length / 3))
    var i = 0
    while (i < b.length) {
      val m = longestMatch(b, i)
      val w =
        if (m > 0) m
        else {
          val lead = b(i) & 0xff
          if (lead < 0x80) 1 else if (lead < 0xe0) 2
          else if (lead < 0xf0) 3 else 4
        }
      out += UTF8String.fromBytes(b, i, math.min(w, b.length - i))
      i += w
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

object ByteTrie {
  /** sym: byte -> compressed symbol id (-1 = not in alphabet);
    * next: node*nSyms + sym -> child node (-1 = none);
    * terminalLen: node -> piece length ending here (0 = none). */
  private[functions] final case class Tables(
      sym: Array[Int], nSyms: Int, next: Array[Int], terminalLen: Array[Int])

  // one build per (vocab, JVM): executors deserialize a ByteTrie per
  // task, but every instance with the same pieces shares these tables
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Tables]()

  private val CacheCap = 64

  private def tablesFor(pieces: Seq[String]): Tables = {
    // length-prefixed join: unambiguous for ANY piece content (a
    // plain separator would alias pieces containing the separator).
    // Bounded: past the cap new vocabs build uncached (correct, just
    // unshared) instead of accumulating ~10 MB tables per vocab
    // forever in a long-lived executor.
    val key = HashParity.md5Hex(
      pieces.map(p => s"${p.length}:$p").mkString(","))
    val hit = cache.get(key)
    if (hit != null) hit
    else if (cache.size < CacheCap)
      cache.computeIfAbsent(key, _ => build(pieces))
    else build(pieces)
  }

  private def build(pieces: Seq[String]): Tables = {
    require(pieces.forall(_.forall(c => c < 128)), "ASCII vocab only")
    // compressed alphabet: only bytes the vocab uses get a fan-out slot
    val sym = Array.fill(128)(-1)
    var nSyms = 0
    pieces.foreach(_.foreach { c =>
      if (sym(c) == -1) { sym(c) = nSyms; nSyms += 1 }
    })
    val maxNodes = pieces.map(_.length).sum + 1
    val nx = Array.fill(maxNodes * nSyms)(-1)
    val tl = Array.fill(maxNodes)(0)
    var nNodes = 1
    pieces.foreach { p =>
      var node = 0
      p.foreach { c =>
        val slot = node * nSyms + sym(c)
        if (nx(slot) == -1) { nx(slot) = nNodes; nNodes += 1 }
        node = nx(slot)
      }
      tl(node) = p.length
    }
    Tables(sym, nSyms, nx.take(nNodes * nSyms), tl.take(nNodes))
  }
}

/** Greedy longest-match BPE as native functions: each is one
  * [[NativeCall]] of a [[ByteTrie]] method, so the plan carries the
  * piece list once and the tables rebuild lazily per executor JVM. */
object BpeExprs {
  // validate at plan-build time on the driver: a bad vocab should be
  // one clearly-attributed IllegalArgumentException here, not N
  // retried task failures when the lazy trie builds on executors
  private def checked(vocab: Seq[String]): Seq[String] = {
    require(vocab.forall(_.forall(c => c < 128)),
      "BPE vocab pieces must be ASCII")
    vocab
  }

  /** Greedy longest-match token count: one trie walk per row, inside
    * the enclosing whole-stage codegen stage. Result-identical to
    * [[graft.ops.Bpe.tokenCount]]'s compiled-alternation regex
    * (property-pinned in BpeSpec), so the DuckDB oracle for the regex
    * path gates this one too. */
  def tokenCountFast(text: Column, vocab: Seq[String]): Column =
    NativeCall.column("bpe_token_count", ByteTrie(checked(vocab)),
      "countTokens", LongType, Seq(StringType))(text)

  /** Greedy longest-match segmentation: the token array under the
    * vocab ([[tokenCountFast]]'s walk emitting the pieces). */
  def tokenizeFast(text: Column, vocab: Seq[String]): Column =
    NativeCall.column("bpe_tokenize", ByteTrie(checked(vocab)),
      "tokenize", ArrayType(StringType, containsNull = false),
      Seq(StringType))(text)
}
