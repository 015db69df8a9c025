package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashParity
import graft.core.CacheScope.Scoped

/** Source mixing: sample each source at the rate that hits a target
  * token mixture — the curation step between "deduped, quality-gated
  * corpus" and "packed training batches". Given per-source shares
  * (`weights`) and a total token `budget`, each source's target is
  * `share * budget` tokens; its sampling rate is
  * `target / available` (capped at 1 — a source can't be upsampled
  * by filtering), and a row is kept iff its salted md5 bucket falls
  * under the rate. The same determinism contract as [[Split]]:
  * stable across runs, engines, partitionings and data order, and a
  * lower-budget mix is a SUBSET of a higher-budget one under the
  * same salt (nested mixtures — shrink the budget, keep the cache).
  * Sources without a weight are dropped (a mixture is a whitelist).
  *
  * Scale shape: one narrow scan derives (id, source, tokens); the
  * per-source availability aggregate is |sources| rows, joined back
  * as a broadcast; the keep decision is a pure per-row expression.
  * No shuffle touches full rows — the wide columns rejoin by id
  * downstream if needed. Rates are exact in expectation per source;
  * the kept-set audit (docs/tokens actually kept per source) rides
  * on the output so the manifest carries its own totals.
  *
  * Both broadcast lookups (rates, audit) key on the source's position
  * in `weights`, a long, not on the source string. A single integral
  * key builds a `LongHashedRelation`, which starts at a 1 MiB page; a
  * string key builds an `UnsafeHashedRelation` whose `BytesToBytesMap`
  * takes a whole Tungsten page (64 MiB in a 3 GiB JVM) for a handful
  * of rows, and the cached `kept` frame pins it until the scope ends.
  */
object Mix {

  /** Parts-per-million bucket from a salted md5 of the id — the
    * [[Split.bucket]] scheme at mixture resolution. */
  def bucketPpm(id: Column, salt: String): Column =
    HashParity.h28(concat(id.cast("string"), lit("#" + salt))) % 1000000L

  /** DuckDB spelling of [[bucketPpm]] — keep in lock-step. */
  def bucketPpmSql(idExpr: String, salt: String): String =
    s"CAST('0x' || substr(md5(CAST($idExpr AS VARCHAR) || '#$salt'), 1, 7) AS BIGINT) % 1000000"

  /** Kept rows + per-source audit:
    * (id, source, n_tokens, avail_docs, avail_tokens, target_tokens,
    * rate_ppm, src_kept_docs, src_kept_tokens). */
  def mix(
      df: DataFrame, textCol: String, idCol: String, sourceCol: String,
      weights: Seq[(String, Double)], budgetTokens: Long, salt: String,
      tokensOf: Column => Column = Pack.whitespaceTokens): DataFrame = {
    require(weights.nonEmpty, "empty mixture")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate source in mixture weights")
    require(weights.forall(_._2 >= 0), "negative mixture weight")

    // narrow base feeds the availability aggregate AND the keep filter
    val base = narrowBase(df, textCol, idCol, sourceCol, weights, salt, tokensOf)
    val rates = availability(base, weights, budgetTokens)
      .withColumn("rate_ppm", least(lit(1000000L), col("rate_ppm_raw")))
      .drop("rate_ppm_raw")
    val kept = base.join(broadcast(rates), Seq("src_ix"))
      .filter(col("ppm") < col("rate_ppm"))
      .drop("ppm")
      .scopedCache()
    val audit = kept.groupBy(col("src_ix"))
      .agg(
        count(lit(1)).as("src_kept_docs"),
        sum(col("n_tokens")).as("src_kept_tokens"))
    kept.join(broadcast(audit), Seq("src_ix"))
      .select(col("id"), col("source"), col("n_tokens"),
        col("avail_docs"), col("avail_tokens"), col("target_tokens"),
        col("rate_ppm"), col("src_kept_docs"), col("src_kept_tokens"))
  }

  /** The source's position in `weights` as a when-chain over the
    * (small, literal) weight table: the long join key of both
    * broadcast lookups. An unlisted source gets NULL and drops at the
    * inner join (a mixture is a whitelist). */
  private def sourceIndex(weights: Seq[(String, Double)]): Column =
    weights.zipWithIndex.foldRight(lit(null).cast("long")) {
      case (((s, _), i), rest) => when(col("source") === s, i.toLong).otherwise(rest)
    }

  /** (id, source, src_ix, n_tokens, ppm), cached for the scope. */
  private def narrowBase(
      df: DataFrame, textCol: String, idCol: String, sourceCol: String,
      weights: Seq[(String, Double)], salt: String,
      tokensOf: Column => Column): DataFrame =
    df.select(
        col(idCol).as("id"),
        col(sourceCol).as("source"),
        tokensOf(col(textCol)).as("n_tokens"),
        bucketPpm(col(idCol), salt).as("ppm"))
      .withColumn("src_ix", sourceIndex(weights))
      .scopedCache()

  /** Per-source availability + uncapped sampling rate, keyed by
    * `src_ix` (unlisted sources aggregate under NULL and match
    * nothing). The rate guards the zero-available edge explicitly:
    * `least`/division NULL-skipping would otherwise turn an empty
    * source into rate 1000000 (and diverge between engines on NULL
    * `least`). */
  private def availability(
      base: DataFrame, weights: Seq[(String, Double)],
      budgetTokens: Long): DataFrame = {
    val share = weights.zipWithIndex.foldRight(lit(0.0): Column) {
      case (((_, p), i), rest) => when(col("src_ix") === i.toLong, p).otherwise(rest)
    }
    base.groupBy(col("src_ix"))
      .agg(
        count(lit(1)).as("avail_docs"),
        sum(col("n_tokens")).as("avail_tokens"))
      .withColumn("target_tokens",
        floor(share * lit(budgetTokens.toDouble)).cast("long"))
      .withColumn("rate_ppm_raw",
        when(col("avail_tokens") === 0L, 0L).otherwise(
          floor(lit(1000000.0) * col("target_tokens") / col("avail_tokens"))
            .cast("long")))
  }

  /** [[mix]] with UPSAMPLING: a source whose target exceeds its
    * availability is repeated — `rate` epochs per doc, where the
    * integer part replicates every doc and the fractional epoch is
    * the usual ppm keep. One output row per (doc, epoch):
    *
    * `n_copies = (rate_ppm + 999999 - ppm) DIV 1000000`
    *
    * which reduces to the `ppm < rate_ppm` keep rule for rates <= 1
    * (epoch 0 only) and is MONOTONE in `rate_ppm` for fixed ppm — so
    * the budget-nesting contract extends across the upsampling
    * boundary in both directions: a doc's copy k exists in every mix
    * whose rate gives it more than k copies, and growing the budget
    * never drops a (doc, epoch) row. Real pretraining mixtures repeat
    * scarce high-quality sources 2-5 epochs; this is that knob, same
    * determinism contract as [[mix]].
    *
    * Scale shape: identical to [[mix]] until the explode; the explode
    * emits only the kept copies (integer DIV, no row ever carried for
    * a dropped doc), so output volume is the mixture's token budget,
    * not corpus size. The audit counts copies
    * (`src_kept_copies`/`src_kept_tokens` include repetition).
    *
    * `maxEpochs` is a LOUD guard, not a cap: `rate_ppm` is unbounded
    * (target / available), so a misconfigured budget against a tiny
    * source (avail_tokens 10^3, budget 10^12) would otherwise explode
    * ~10^9 copies per doc straight into an OOM with no actionable
    * message. Real pretraining mixtures repeat scarce sources 2-5
    * epochs; any source whose rate exceeds `maxEpochs` epochs fails
    * the job with an error naming the source and its rate. The guard
    * is `raise_error` INSIDE the n_copies expression — enforced where
    * the explosion would happen, adding zero jobs and zero extra
    * corpus passes (a driver-side pre-check would force the
    * availability aggregate to materialize eagerly: a full extra scan
    * at scale). */
  def mixEpochs(
      df: DataFrame, textCol: String, idCol: String, sourceCol: String,
      weights: Seq[(String, Double)], budgetTokens: Long, salt: String,
      tokensOf: Column => Column = Pack.whitespaceTokens,
      maxEpochs: Int = 16): DataFrame = {
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    require(weights.nonEmpty, "empty mixture")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate source in mixture weights")
    require(weights.forall(_._2 >= 0), "negative mixture weight")
    val base = narrowBase(df, textCol, idCol, sourceCol, weights, salt, tokensOf)
    val rates = availability(base, weights, budgetTokens)
      .withColumnRenamed("rate_ppm_raw", "rate_ppm")
    val overLimit = concat(
      lit("mixEpochs: source '"), col("source"),
      lit("' needs "), format_number(col("rate_ppm") / 1e6, 1),
      lit(" epochs (target "), col("target_tokens"),
      lit(" tokens vs "), col("avail_tokens"),
      lit(s" available) - over maxEpochs=$maxEpochs; shrink the " +
        "budget/weight or raise maxEpochs"))
    val kept = base.join(broadcast(rates), Seq("src_ix"))
      .withColumn("n_copies",
        when(col("rate_ppm") > maxEpochs * 1000000L,
          raise_error(overLimit).cast("long"))
        .otherwise(expr("(rate_ppm + 999999 - ppm) DIV 1000000")))
      .filter(col("n_copies") > 0L)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("n_copies") - 1L)))
      .drop("ppm")
      .scopedCache()
    val audit = kept.groupBy(col("src_ix"))
      .agg(
        count(lit(1)).as("src_kept_copies"),
        sum(col("n_tokens")).as("src_kept_tokens"))
    kept.join(broadcast(audit), Seq("src_ix"))
      .select(col("id"), col("epoch"), col("source"), col("n_tokens"),
        col("avail_docs"), col("avail_tokens"), col("target_tokens"),
        col("rate_ppm"), col("n_copies"),
        col("src_kept_copies"), col("src_kept_tokens"))
  }

  /** FIXED-rate upsampling copies — the continuous-pipeline arm of
    * [[mixEpochs]]: rates are frozen OFFLINE (a snapshot's mixture
    * run decides ppm per source) and each arriving batch applies them
    * locally, so the drain gains no cross-batch state and every batch
    * keeps/replicates with exactly the deterministic
    * `(rate_ppm + 999999 - ppm) DIV 1e6` arithmetic of the batch
    * operator. Input frame: (id, source, n_tokens). A source absent
    * from the table rates 0 and is dropped (document the table
    * completely). Over-maxEpochs rates fail loudly at plan time —
    * the table is static, no runtime guard needed. */
  def copiesAtRatesOn(df: DataFrame, ratesPpm: Seq[(String, Long)],
      salt: String, maxEpochs: Int = 16): DataFrame = {
    require(ratesPpm.nonEmpty, "empty rate table")
    require(ratesPpm.map(_._1).distinct.size == ratesPpm.size,
      "duplicate source in rate table")
    require(ratesPpm.forall(_._2 >= 0), "negative rate")
    ratesPpm.filter(_._2 > maxEpochs * 1000000L) match {
      case bad if bad.nonEmpty => throw new IllegalArgumentException(
        s"copiesAtRatesOn: rates over maxEpochs=$maxEpochs for " +
          bad.map { case (s, r) => s"$s ($r ppm)" }.mkString(", "))
      case _ =>
    }
    val rate = ratesPpm.foldRight(lit(0L): Column) { case ((s, r), rest) =>
      when(col("source") === s, r).otherwise(rest)
    }
    df.withColumn("ppm", bucketPpm(col("id"), salt))
      .withColumn("rate_ppm", rate)
      .withColumn("n_copies", expr("(rate_ppm + 999999 - ppm) DIV 1000000"))
      .filter(col("n_copies") > 0L)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("n_copies") - 1L)))
      .drop("ppm")
  }
}
