package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashParity, SketchExprs}
import graft.core.CacheScope.Scoped

/** Deduplication operators for a training-data pipeline.
  *
  * Exact (content-hash group-by), n-gram Jaccard via an inverted
  * shingle index, MinHash+LSH banding, and SimHash — each a
  * shuffle-bounded declarative plan:
  *
  *  - exact: one hash aggregate on the content hash.
  *  - Jaccard: the candidate join is an equi-join on shingle value;
  *    super-common shingles are droppable via `maxDf` (the standard
  *    fan-out cap — quadratic pair blow-up comes only from shingles
  *    shared by many documents).
  *  - MinHash: one aggregate builds 64-component signatures; LSH
  *    banding turns near-dup search into an equi-join on
  *    (band, band-hash) — no all-pairs comparison at any scale.
  *  - SimHash: one aggregate of 60 bit-majority counters.
  *
  * Each sketch (the MinHash signature, the SimHash counters) is one
  * fixed-width native fold on [[graft.functions.NativeAgg]], never k
  * aggregate expressions.
  */
object Dedup {

  /** Exact dedup clusters: one row per distinct content hash. */
  def exactClusters(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col(idCol)).as("canonical_id"))

  /** CCNet-style corpus-wide LINE (paragraph) dedup (Wenzek et al.
    * 2020 §3.1 — the pre-dedup every CommonCrawl pipeline runs before
    * language ID: boilerplate lines repeat across pages far more than
    * whole documents do): hash each NONBLANK trimmed line; the
    * globally FIRST occurrence — lexicographic (doc id, line index) —
    * survives, every later copy is cut. Blank lines never dedup
    * (they would all collapse onto one) and ride through the rebuild
    * so document shape is preserved.
    *
    * Output per doc: `n_lines` (nonblank), `n_dup_lines`,
    * `dup_line_ppm` (integer cross-multiplied), `clean_text` (the
    * original lines minus cut duplicates, original spelling — the
    * TRIM is only the hash key, CRLF-safe like C4Filter).
    *
    * Scale shape: one explode, one (fp) shuffle for the keeper
    * argmin, one equi-join back on fp, one per-doc rebuild
    * aggregate — no all-pairs work at any corpus size; the keeper
    * frame is bounded by the number of DISTINCT lines. */
  def lineDedupReport(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val lines = graft.core.Par.widen(df)
      .select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("idx", "line")))
      .withColumn("t", trim(col("line"), " \r"))
    val nb = lines.filter(col("t") =!= "").withColumn("fp", md5(col("t")))
    val keeper = nb.groupBy(col("fp"))
      .agg(min(struct(col("id"), col("idx"))).as("k"))
    val flagged = nb.join(keeper, Seq("fp"))
      .select(col("id"), col("idx"), col("line"), lit(1L).as("nb"),
        (col("k.id") === col("id") && col("k.idx") === col("idx"))
          .cast("long").as("keep"))
    val blanks = lines.filter(col("t") === "")
      .select(col("id"), col("idx"), col("line"), lit(0L).as("nb"),
        lit(1L).as("keep"))
    flagged.unionByName(blanks)
      .groupBy(col("id"))
      .agg(
        sum(col("nb")).as("n_lines"),
        sum(when(col("nb") === 1L && col("keep") === 0L, 1L).otherwise(0L))
          .as("n_dup_lines"),
        array_join(transform(
          filter(
            sort_array(collect_list(
              struct(col("idx"), col("keep"), col("line")))),
            s => s.getField("keep") === 1L),
          s => s.getField("line")), "\n").as("clean_text"))
      .withColumn("dup_line_ppm",
        when(col("n_lines") === 0L, lit(0L))
          .otherwise(expr("n_dup_lines * 1000000 DIV n_lines")))
  }

  /** Distinct word n-gram shingles, one row per (id, shingle).
    * Documents shorter than n tokens drop out (they cannot shingle). */
  def wordShingles(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val w = TextAnalysis.tokens(col(textCol))
    // spread narrow inputs before the explode so shingling
    // parallelizes even from a single local file split
    graft.core.Par.widen(df)
      .select(col(idCol).as("id"), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("w")) - n),
          i => concat_ws(" ", slice(col("w"), i + 1, lit(n)))))).as("g"))
  }

  /** Shingle index with document-frequency cap: shingles appearing in
    * more than `maxDf` docs are dropped (fan-out bound; part of the
    * operator's declared semantics, mirrored by the oracle).
    *
    * Spelling: a map-side-combined df aggregate keeps only the
    * OVER-CAP shingles (a blacklist bounded by |sh| / maxDf rows —
    * they need > maxDf occurrences each), broadcast anti-joined back
    * onto the rows. The r17 window spelling (`count(*) over
    * (partition by g)`) shuffled EVERY index row by `g` and buffered
    * each shingle's full row set in one window partition before the
    * filter could drop it — a stop-word shingle at corpus scale makes
    * one giant spilling task (guide §2.5: windows have no AQE skew
    * split). Here the hot shingle collapses to one row in the partial
    * aggregate before the exchange, nothing corpus-sized shuffles by
    * `g` at all, and the anti-join preserves the input's scan
    * partitioning. The price is deriving `sh` twice (Spark has no
    * common-subplan elimination): one extra corpus scan against a
    * full shuffle + sort of the exploded index — strictly fewer bytes
    * moved at any scale. */
  def cappedIndex(sh: DataFrame, maxDf: Long): DataFrame = {
    val overCap = sh.groupBy(col("g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("g"))
    sh.join(broadcast(overCap), Seq("g"), "left_anti")
  }

  /** Exact n-gram Jaccard over candidate pairs from the inverted
    * index: jaccard = shared / (|A| + |B| - shared). Top-k by
    * (jaccard desc, ids) keeps output bounded and deterministic. */
  def jaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, maxDf: Long = 1000L, topK: Int = 100): DataFrame = {
    // per-doc shingle counts ride ON the index rows (one window
    // exchange at build time) instead of joining a sizes aggregate
    // onto the candidate pairs twice — two shuffle joins removed from
    // the post-candidate path. The index feeds both self-join sides;
    // cache it or each side re-explodes the corpus.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val sh = cappedIndex(wordShingles(df, textCol, idCol, n), maxDf)
      .withColumn("n_g", count(lit(1)).over(w))
      .scopedCache()
    val a = sh.select(col("id").as("id1"), col("n_g").as("n1"), col("g"))
    val b = sh.select(col("id").as("id2"), col("n_g").as("n2"), col("g"))
    a.join(b, Seq("g"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared") / (col("n1") + col("n2") - col("shared")))
      .select("id1", "id2", "shared", "n1", "n2", "jaccard")
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
      .limit(topK)
  }

  /** MinHash signatures: k affine permutations of ONE 28-bit md5
    * shingle hash — `h_i = (a_i * h28(g) + b_i) mod (2^31-1)` — each
    * slot the min over the doc's shingles. Output `(id, sig)` with
    * `sig` the k slots as `array<bigint>`.
    *
    * One aggregate: the signature is a single fixed-width native fold
    * ([[graft.functions.MinHashFold]] on [[graft.functions.NativeAgg]]),
    * so each shingle is hashed once and the k slots are one loop over
    * the aggregate's k long words, with no generated code for the
    * slots. md5-parity ([[graft.functions.HashParity]]) rather than
    * xxhash64 keeps the whole signature replayable in DuckDB SQL, so
    * the operator is independently oracle-checked. */
  def minhashSignatures(sh: DataFrame, k: Int = 64): DataFrame =
    sh.withColumn("hg", HashParity.h28(col("g")))
      .groupBy(col("id")).agg(SketchExprs.minhash(col("hg"), k).as("sig"))

  /** SOFT exact dedup: duplicate-aware sampling weights instead of
    * removal. Every doc in an exact-duplicate cluster of size n gets
    * `weight_ppm = 1e6 DIV n`, so the cluster contributes ~one
    * expected copy under weighted sampling — the down-weighting
    * alternative to a hard keep-list when duplicates carry signal
    * (e.g. popularity) the trainer wants to preserve in expectation.
    * The ppm weight plugs directly into [[Mix]]'s rate arithmetic.
    *
    * One groupBy on the md5 fingerprint + an equi-join back on it —
    * the same shuffle budget as [[exactClusters]]; text never
    * shuffles (only the 32-char fingerprint). */
  def duplicateWeights(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val fps = df.select(col(idCol).as("id"), md5(col(textCol)).as("fp"))
    val sizes = fps.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    fps.join(sizes, Seq("fp"))
      .withColumn("weight_ppm", expr("1000000 DIV n_copies"))
      .select(col("id"), col("fp"), col("n_copies"), col("weight_ppm"))
  }

  /** Auto-tune the (bands, rows-per-band) split of a k-slot MinHash
    * signature for a target Jaccard threshold: the probability a pair
    * at similarity s becomes a candidate follows the S-curve
    * 1 − (1 − s^r)^b, so the cost-balanced choice maximizes the
    * curve's discrimination AT the threshold — below it candidates
    * are wasted verify work, above it misses are lost recall.
    * Evaluated exactly over every divisor split of k: pick the split
    * minimizing `fnWeight · miss(t+margin) + fp(t−margin)` (miss and
    * false-positive rates at similarity margins around t, both from
    * the closed form). `fnWeight > 1` mirrors production reality —
    * losing a true near-dup costs more than verifying a false
    * candidate. Driver-side arithmetic over ≤ d(k) splits; feed the
    * result to [[lshBands]] as `bandSize = k / bands`. */
  def tuneBands(k: Int, threshold: Double, margin: Double = 0.1,
      fnWeight: Double = 3.0): (Int, Int) = {
    require(k > 0 && threshold > 0 && threshold < 1,
      s"need k > 0 and threshold in (0,1): k=$k t=$threshold")
    def curve(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val splits = (1 to k).filter(k % _ == 0)
      .map(b => (b, k / b)) // (bands, rowsPerBand)
    val sHi = math.min(threshold + margin, 0.999)
    val sLo = math.max(threshold - margin, 0.001)
    splits.minBy { case (b, r) =>
      fnWeight * (1.0 - curve(sHi, b, r)) + curve(sLo, b, r)
    }
  }

  /** LSH banding: signature -> (band, band-hash) rows. Docs sharing
    * any band-hash are near-dup candidates. Band hash = 60-bit md5 of
    * the comma-joined slot minima (cross-engine replayable). All
    * `k / bandSize` band hashes of a signature come from one native
    * call ([[graft.functions.Sketch.lshBands]]), exploded with their
    * band index. */
  def lshBands(sig: DataFrame, k: Int = 64, bandSize: Int = 4): DataFrame =
    sig.select(col("id"),
        posexplode(SketchExprs.lshBands(col("sig"), k / bandSize, bandSize)))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))

  /** Candidate near-dup pairs: equi-join on (band, band-hash). */
  def minhashCandidates(bands: DataFrame): DataFrame = {
    val x = bands.select(col("band"), col("bh"), col("id").as("id1"))
    val y = bands.select(col("band"), col("bh"), col("id").as("id2"))
    x.join(y, Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Incremental dedup candidates: NEW docs against a STANDING band
    * index — the shape dedup takes in a continuously-ingesting
    * pipeline at any scale. The historical corpus's (id, band, bh)
    * rows live as a stored table (plain parquet partitioned by band
    * works; [[lshBands]] emits the shape); an arriving batch computes
    * only ITS shingles and signatures, equi-joins the index on
    * (band, bh), and never re-touches old text. Appending the new
    * batch's bands to the index afterwards keeps it current.
    *
    * Shingle df-caps are computed on the standing corpus's
    * statistics in production (a batch can't see global df); the
    * candidate semantics are otherwise identical to
    * [[minhashCandidates]] restricted to new-vs-old pairs. */
  def incrementalCandidates(
      newBands: DataFrame, bandIndex: DataFrame): DataFrame = {
    val n = newBands.select(col("band"), col("bh"), col("id").as("new_id"))
    val o = bandIndex.select(col("band"), col("bh"), col("id").as("old_id"))
    n.join(o, Seq("band", "bh"))
      .select("new_id", "old_id").distinct()
  }

  /** Stored-index shingle rows: (id, g, n_g) — the per-doc shingle
    * count rides on every row (one window exchange at build time),
    * so the admission verify joins stored stats directly and never
    * re-aggregates — or re-reads — old text. This is the schema the
    * standing dedup index persists alongside its (id, band, bh) rows
    * ([[lshBands]]). */
  def shingleRowsWithCounts(sh: DataFrame): DataFrame =
    sh.withColumn("n_g",
      count(lit(1)).over(Window.partitionBy(col("id"))))

  /** Full admission decision for an arriving batch against a standing
    * index — the loop a continuously-ingesting pipeline runs per
    * batch, composed end-to-end: band-equi-join candidates
    * ([[incrementalCandidates]]), exact-Jaccard verify computed ONLY
    * on candidate pairs against the index's stored (id, g, n_g) rows,
    * then one decision row per arriving doc. A doc is admitted iff no
    * standing doc matches at `threshold` or above; the best standing
    * match (jaccard desc, old id asc) and the candidate count ride
    * along, so the caller can both filter the batch and append the
    * admitted docs' band/shingle rows to the index.
    *
    * Scale shape: every join is an equi-join on a bounded key
    * (band+hash, then shingle value restricted to candidate pairs);
    * the standing corpus is touched only through its index tables;
    * per-batch work is O(batch) + O(candidate fan-out), independent
    * of corpus size. */
  def admissionReport(
      newIds: DataFrame, newShingles: DataFrame, newBands: DataFrame,
      indexShingles: DataFrame, indexBands: DataFrame,
      threshold: Double): DataFrame = {
    val cands = incrementalCandidates(newBands, indexBands)
    val a = newShingles.select(
      col("id").as("new_id"), col("g"), col("n_g").as("n1"))
    val b = indexShingles.select(
      col("id").as("old_id"), col("g"), col("n_g").as("n2"))
    val scored = cands.join(a, Seq("new_id")).join(b, Seq("old_id", "g"))
      .groupBy(col("new_id"), col("old_id"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared") / (col("n1") + col("n2") - col("shared")))
      .select("new_id", "old_id", "jaccard")
    // band collisions with zero shared (capped) shingles are still
    // candidates — they verify at jaccard 0 and never block admission
    val withJ = cands.join(scored, Seq("new_id", "old_id"), "left")
      .na.fill(0.0, Seq("jaccard"))
    // best match as an argmax AGGREGATE — max(struct(jaccard,
    // -old_id)) is the old window's (jaccard DESC, old_id ASC) order
    // — and the candidate count rides in the SAME aggregate: one
    // map-side-combined pass instead of a window sort plus a second
    // aggregate over the candidate frame
    val top = withJ.groupBy(col("new_id"))
      .agg(max(struct(col("jaccard"), (-col("old_id")).as("nid"))).as("b"),
        count(lit(1)).as("n_cands"))
      .select(col("new_id"), (-col("b.nid")).as("best_old_match"),
        col("b.jaccard").as("best_jaccard"), col("n_cands"))
    newIds.select(col("id"))
      .join(top.withColumnRenamed("new_id", "id"), Seq("id"), "left")
      .na.fill(0.0, Seq("best_jaccard"))
      .na.fill(0L, Seq("n_cands"))
      .withColumn("admitted",
        (col("best_jaccard") < threshold).cast("long"))
  }

  /** Occurrence-key position cap: (id, pos) packs into the single
    * long `id * PosCap + pos`, so a GLOBAL first-occurrence ordering
    * is one `min` aggregate (map-side combinable) instead of a
    * struct-min that not every engine orders identically. Documents
    * are assumed shorter than 1e6 tokens — pretraining corpora chunk
    * documents orders of magnitude below that — and ids must stay
    * under ~9e12 for the pack to fit a signed 64-bit long. */
  val PosCap: Long = 1000000L

  /** Position-preserving k-token window hashes: one row per sliding
    * window, `(id, pos, wh)` with `pos` 1-based and `wh` the 60-bit
    * md5-parity hash of the space-joined window. The hash is computed
    * INSIDE the array transform, BEFORE the explode, so exploded rows
    * carry an 8-byte long — never the k-token window string (the k×
    * text blow-up the naive plan would pay; at 100 TB that factor is
    * the difference between a feasible and an infeasible shuffle).
    * Docs shorter than k tokens emit nothing. */
  def windowHashes(
      df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val w = TextAnalysis.tokens(col(textCol))
    graft.core.Par.widen(df)
      .select(col(idCol).as("id"), w.as("w"))
      .filter(size(col("w")) >= k)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), size(col("w")) - k),
          i => HashParity.h60(concat_ws(" ", slice(col("w"), i + 1, lit(k)))))))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("wh"))
  }

  /** Per-hash stats of DUPLICATED windows only: `(wh, n_occ,
    * first_key)` where `first_key` is the packed (id, pos) of the
    * globally first occurrence — the one copy a span-level dedup
    * keeps. Restricting to `n_occ >= 2` keeps the join build side
    * proportional to the duplicated tail, not the corpus: at real
    * scale almost every window is unique and never leaves the
    * map-side-combined aggregate. */
  def duplicatedWindowStats(occ: DataFrame): DataFrame =
    occ.groupBy(col("wh"))
      .agg(count(lit(1)).as("n_occ"),
        min(col("id") * PosCap + col("pos")).as("first_key"))
      .filter(col("n_occ") >= 2)

  /** Span-level exact-duplicate report — the substring granularity of
    * the ExactSubstr construction (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"; suffix arrays there,
    * sliding window hashes here — the standard distributed
    * approximation). Doc-level exact dedup misses documents that
    * EMBED copied spans inside otherwise-unique text; this operator
    * counts, per document, the k-token windows whose exact content
    * occurs elsewhere in the corpus:
    *
    *  - `n_windows`: sliding k-token windows in the doc (0 if < k
    *    tokens);
    *  - `n_dup`: windows whose hash occurs >= 2 times corpus-wide;
    *  - `n_noncanon`: dup windows that are NOT the globally first
    *    occurrence (min packed (id, pos)) — the spans a span-level
    *    dedup pass would cut;
    *  - `dup_ppm = n_noncanon * 1e6 DIV n_windows`; `keep = dup_ppm <
    *    dupPpmAt` (windowless docs keep trivially).
    *
    * Scale shape: one map-side-combined aggregate on the window hash
    * (unique windows collapse before the exchange and are then
    * FILTERED OUT of the stats side), one equi-join of the occurrence
    * rows against that bounded duplicated-tail table, one per-doc
    * aggregate. 60-bit hashing makes cross-content collisions
    * negligible until ~1e9 distinct windows per corpus shard and they
    * only ever over-flag a window, never crash. */
  def substringDupReport(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, dupPpmAt: Long = 200000L): DataFrame = {
    // the occurrence rows feed the stats aggregate AND the join back;
    // uncached, the scan + window explode runs twice
    val occ = windowHashes(df, textCol, idCol, k).scopedCache()
    val j = occ.join(duplicatedWindowStats(occ), Seq("wh"), "left")
    val perDoc = j.groupBy(col("id")).agg(
      count(lit(1)).as("n_windows"),
      sum(when(col("n_occ").isNotNull, 1L).otherwise(0L)).as("n_dup"),
      sum(when(col("n_occ").isNotNull &&
          (col("id") * PosCap + col("pos")) =!= col("first_key"), 1L)
        .otherwise(0L)).as("n_noncanon"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .na.fill(0L, Seq("n_windows", "n_dup", "n_noncanon"))
      .withColumn("dup_ppm",
        when(col("n_windows") === 0L, 0L)
          .otherwise(expr("n_noncanon * 1000000 DIV n_windows")))
      .withColumn("keep", (col("dup_ppm") < dupPpmAt).cast("long"))
  }

  /** Span-level scrub: REMOVE every token covered by a non-canonical
    * duplicated window, keeping exactly one copy of each duplicated
    * span corpus-wide (the globally first occurrence) — the repair
    * action [[substringDupReport]] only measures. Overlapping and
    * adjacent duplicated windows merge naturally through the
    * distinct covered-position set (interval union without interval
    * logic). Docs shorter than k tokens pass through verbatim;
    * `n_removed = n_toks - n_kept` and fully-covered docs come back
    * as empty text rather than disappearing.
    *
    * Scale shape: adds to the report's plan one bounded explode
    * (k rows per non-canonical window — proportional to the
    * duplicated tail), one anti-join of token rows against the
    * covered set on (id, position), and one per-doc ordered
    * reassembly aggregate. */
  def substringScrub(
      df: DataFrame, textCol: String, idCol: String, k: Int = 8): DataFrame = {
    val occ = windowHashes(df, textCol, idCol, k).scopedCache()
    val noncanon = occ.join(duplicatedWindowStats(occ), Seq("wh"))
      .filter(col("id") * PosCap + col("pos") =!= col("first_key"))
    val covered = noncanon
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
      .distinct()
    val toks = graft.core.Par.widen(df)
      .select(col(idCol).as("id"),
        posexplode(TextAnalysis.tokens(col(textCol))))
      .select(col("id"), (col("pos") + 1).as("tpos"), col("col").as("tok"))
    val rebuilt = toks.join(covered, Seq("id", "tpos"), "left_anti")
      .groupBy(col("id")).agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    df.select(col(idCol).as("id"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_toks"))
      .join(rebuilt, Seq("id"), "left")
      .na.fill(0L, Seq("n_kept"))
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
      .withColumn("n_removed", col("n_toks") - col("n_kept"))
      .select("id", "n_toks", "n_kept", "n_removed", "clean_text")
  }

  /** SimHash bit width: 60 (the md5-parity hash is 60-bit so the
    * fingerprint replays in DuckDB; 60 vs 64 bits is semantically
    * equivalent for bit-majority fingerprinting). */
  val SimhashBits: Int = 60

  /** SimHash: 60-bit bit-majority fingerprint of token hashes.
    * One aggregate, a single native fold of 60 counters
    * ([[graft.functions.SimHashFold]]), then the bit assembly;
    * near-dups share high-bit buckets. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.core.Par.widen(df)
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .withColumn("th", HashParity.h60(col("t")))
      .groupBy(col("id"))
      .agg(SketchExprs.simhashCounters(col("th"), SimhashBits).as("c"))
      .select(col("id"), SketchExprs.simhashBits(col("c")).as("simhash"))

  /** Single-family SimHash near-dup pairs: equi-join on the high
    * `bucketBits` of the fingerprint (candidate generation), then the
    * exact Hamming distance — `bit_count(xor)`, a codegen'd builtin —
    * as the verifier. CHEAP BUT UNDER-RECALLING: a pair that differs
    * inside the high bits lands in different buckets and is silently
    * missed. [[simhashPairsBanded]] is the full-recall production
    * operator; this one survives as the explicitly lower-cost,
    * lower-recall variant (one join instead of nBands). */
  def simhashPairs(
      sh: DataFrame, maxHamming: Int, bucketBits: Int = 16): DataFrame = {
    // both self-join sides consume the fingerprints; without the cache
    // each side re-runs the full simhash pipeline (scan, explode, 60
    // bit-counter aggregate) — the measured multi-consumer trap
    val bucketed = sh.withColumn("bucket",
      shiftrightunsigned(col("simhash"), SimhashBits - bucketBits))
      .scopedCache()
    val a = bucketed.select(col("bucket"), col("id").as("id1"), col("simhash").as("f1"))
    val b = bucketed.select(col("bucket"), col("id").as("id2"), col("simhash").as("f2"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("f1").bitwiseXOR(col("f2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Full-recall SimHash near-dup pairs via pigeonhole banding
    * (the Manku/Jain/Sarma WWW'07 near-duplicate scheme, same
    * public construction as MinHash banding): split the fingerprint
    * into `nBands = ceil(60/bandBits)` contiguous bands and equi-join
    * on (band-index, band-value). Any pair at Hamming distance
    * `<= nBands - 1` agrees EXACTLY on at least one band (pigeonhole:
    * d differing bits can dirty at most d bands), so for
    * `maxHamming <= nBands - 1` recall is 100% — not probabilistic.
    * With the default 6-bit bands, nBands = 10 and every pair at
    * distance <= 9 is found; the `bit_count(xor)` verify then keeps
    * exactly the pairs within `maxHamming`.
    *
    * Scale shape: nBands repeated equi-joins (one exploded join in
    * practice), candidate fan-out = sum of per-bucket squares. At
    * billions of documents 6-bit band values collide heavily; widen
    * `bandBits` (fewer, wider bands — exact threshold drops to
    * nBands-1) or move to multi-band combination keys, trading the
    * exact guarantee for fan-out, exactly as the reference literature
    * does. A pair that collides in several bands is emitted only from
    * its first matching band, so the output needs no distinct(). */
  def simhashPairsBanded(
      sh: DataFrame, maxHamming: Int, bandBits: Int = 6): DataFrame = {
    val nBands = (SimhashBits + bandBits - 1) / bandBits
    require(nBands > maxHamming,
      s"banding is exact only for maxHamming <= ${nBands - 1}; " +
        s"got $maxHamming with $nBands bands — narrow bandBits")
    val bands = (0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftrightunsigned(col("simhash"), j * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bv"))
    }
    // two self-join sides read the banded frame; cache or the whole
    // simhash aggregate re-runs per side (measured multi-consumer trap)
    val banded = sh
      .select(col("id"), col("simhash"), explode(array(bands: _*)).as("b"))
      .select(col("id"), col("simhash"),
        col("b.band").as("band"), col("b.bv").as("bv"))
      .scopedCache()
    val a = banded.select(col("band"), col("bv"),
      col("id").as("id1"), col("simhash").as("f1"))
    val b = banded.select(col("band"), col("bv"),
      col("id").as("id2"), col("simhash").as("f2"))
    // a pair at Hamming d <= nBands-1 collides in every band its
    // differing bits leave clean — up to nBands times (measured 4.4x
    // duplication at sf0.1), and the old spelling paid a distinct()
    // shuffle over the verified output to collapse the copies. Emit
    // each pair from its FIRST matching band instead: band j matches
    // iff the xor's j-th slice is zero, so a codegen'd when-chain
    // finds the lowest matching band and the join row survives only
    // where its own band index equals it — exactly one copy per
    // qualifying pair, no distinct, one less exchange.
    val x = col("f1").bitwiseXOR(col("f2"))
    val firstMatch = (0 until nBands).foldRight(lit(-1L)) { (j, rest) =>
      when(shiftrightunsigned(x, j * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1)) === 0L, lit(j.toLong))
        .otherwise(rest)
    }
    a.join(b, Seq("band", "bv"))
      .filter(col("id1") < col("id2"))
      .filter(col("band").cast("long") === firstMatch)
      .withColumn("hamming", bit_count(x).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }
}
