package graft

import org.apache.spark.sql.functions._
import graft.ops.Mix

class MixSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 40L).map { i =>
    val src = if (i < 20) "a" else "b"
    (i, src, "w " * 9 + "w") // 10 whitespace tokens per doc
  }.toDF("doc_id", "source", "text")

  test("rates derive from availability and cap at 1") {
    // a: 200 tokens avail, target 0.5*160=80 -> rate 400000 ppm
    // b: 200 tokens avail, target 1.0... weight 0.5 -> 80 -> same
    val r = Mix.mix(docs, "text", "doc_id", "source",
        Seq("a" -> 0.5, "b" -> 0.5), budgetTokens = 160L, salt = "t")
      .select("source", "rate_ppm", "avail_tokens", "target_tokens")
      .distinct().collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r("a") === (400000L, 200L, 80L))
    assert(r("b") === (400000L, 200L, 80L))

    // oversized budget: rate caps at 1000000, everything kept
    val all = Mix.mix(docs, "text", "doc_id", "source",
      Seq("a" -> 0.5, "b" -> 0.5), budgetTokens = 100000L, salt = "t")
    assert(all.count() === 40L)
    assert(all.select("rate_ppm").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(1000000L))
  }

  test("unlisted sources are dropped; audit counts the kept set") {
    val r = Mix.mix(docs, "text", "doc_id", "source",
      Seq("a" -> 1.0), budgetTokens = 100000L, salt = "t")
    assert(r.select("source").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("a"))
    val audit = r.select("src_kept_docs", "src_kept_tokens")
      .distinct().collect()(0)
    assert(audit.getLong(0) === 20L && audit.getLong(1) === 200L)
  }

  test("a lower budget is a subset of a higher budget under one salt") {
    def ids(budget: Long): Set[Long] =
      Mix.mix(docs, "text", "doc_id", "source",
          Seq("a" -> 0.5, "b" -> 0.5), budget, salt = "t")
        .select("id").collect().map(_.getLong(0)).toSet
    val small = ids(100L)
    val big = ids(300L)
    assert(small.subsetOf(big))
    assert(small.size < big.size)
  }

  test("mixEpochs: integer epochs replicate, fractional epoch samples, rates <= 1 reduce to mix") {
    // a: avail 200, weight 0.5, budget 500 -> target 250 -> rate 1.25:
    //    every doc gets 1 copy, 25% of ppm space gets a 2nd
    // b: avail 200, weight 0.25 -> target 125 -> rate 0.625: downsample
    val r = Mix.mixEpochs(docs, "text", "doc_id", "source",
      Seq("a" -> 0.5, "b" -> 0.25), budgetTokens = 500L, salt = "t")
    val bySrc = r.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // every a-doc appears at least once (rate > 1)
    assert(r.filter(col("source") === "a").select("id").distinct().count() === 20L)
    assert(bySrc("a") >= 20L && bySrc("a") <= 40L)
    // epoch indices are dense 0..n_copies-1
    val bad = r.filter(col("epoch") >= col("n_copies") || col("epoch") < 0).count()
    assert(bad === 0L)
    // n_copies matches the driver-side formula from the shared hash
    val rateA = r.filter(col("source") === "a")
      .select("rate_ppm").distinct().collect()(0).getLong(0)
    assert(rateA === 1250000L)
    val copies = r.filter(col("source") === "a")
      .select("id", "n_copies").distinct().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    copies.foreach { case (id, n) =>
      val ppm = graft.functions.HashParity.h28(s"$id#t") % 1000000L
      assert(n === (1250000L + 999999L - ppm) / 1000000L, s"doc $id")
    }
    // in the <= 1 regime mixEpochs equals mix exactly (epoch 0 rows)
    val plain = Mix.mix(docs, "text", "doc_id", "source",
        Seq("b" -> 0.25), budgetTokens = 500L, salt = "t")
      .select("id").collect().map(_.getLong(0)).toSet
    val viaEpochs = Mix.mixEpochs(docs, "text", "doc_id", "source",
        Seq("b" -> 0.25), budgetTokens = 500L, salt = "t")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaEpochs === plain)
  }

  test("budget nesting holds across the upsampling boundary") {
    def rows(budget: Long): Set[(Long, Long)] =
      Mix.mixEpochs(docs, "text", "doc_id", "source",
          Seq("a" -> 0.5, "b" -> 0.5), budget, salt = "t")
        .select("id", "epoch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // budgets spanning downsample-only, ~1x, and multi-epoch regimes
    val budgets = Seq(100L, 300L, 400L, 900L, 1600L)
    val sets = budgets.map(rows)
    sets.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.subsetOf(hi), "a (doc, epoch) row vanished as the budget grew")
    }
    assert(sets.head.size < sets.last.size)
  }

  test("zero-token sources get rate 0, not rate 1 (NULL-least guard)") {
    val empty = Seq((1L, "a", ""), (2L, "b", "w w w w")).toDF("doc_id", "source", "text")
      .withColumn("text", when(col("source") === "a", lit("")).otherwise(col("text")))
    // whitespace tokens of "" is 1 (split yields [""]), so build a
    // genuinely 0-token source via a custom counter
    val zeroTokens: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => when(length(c) === 0, 0L).otherwise(size(split(c, " ")).cast("long"))
    val r = Mix.mix(empty, "text", "doc_id", "source",
      Seq("a" -> 0.5, "b" -> 0.5), budgetTokens = 100L, salt = "t",
      tokensOf = zeroTokens)
    assert(r.filter(col("source") === "a").count() === 0L)
    val re = Mix.mixEpochs(empty, "text", "doc_id", "source",
      Seq("a" -> 0.5, "b" -> 0.5), budgetTokens = 100L, salt = "t",
      tokensOf = zeroTokens)
    assert(re.filter(col("source") === "a").count() === 0L)
  }

  test("mixEpochs: a runaway rate fails loudly at maxEpochs, naming the source") {
    // a: avail 200 tokens, weight 1.0, budget 10^7 -> rate 50000x —
    // without the guard that's explode(sequence(0, 49999)) PER DOC.
    // raise_error fires at execution (inside the plan — zero extra
    // jobs), surfacing as a SparkException chain; match the message.
    val e = intercept[Exception] {
      Mix.mixEpochs(docs, "text", "doc_id", "source",
        Seq("a" -> 1.0), budgetTokens = 10000000L, salt = "t").count()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("'a'"))
    assert(messages(e).contains("maxEpochs=16"))
    // raising the bound admits the same mixture
    val ok = Mix.mixEpochs(docs, "text", "doc_id", "source",
      Seq("a" -> 1.0), budgetTokens = 10000L, salt = "t", maxEpochs = 64)
    assert(ok.select("epoch").agg(max("epoch")).collect()(0).getLong(0) === 49L)
    // the default bound admits every composed-entry mixture (<= 16x)
    Mix.mixEpochs(docs, "text", "doc_id", "source",
      Seq("a" -> 0.5, "b" -> 0.5), budgetTokens = 500L, salt = "t").count()
  }

  test("mixEpochs: the plan description is Latin-1, so it is stored one byte per character") {
    val df = Mix.mixEpochs(docs, "text", "doc_id", "source",
      Seq("a" -> 0.5, "b" -> 0.5), budgetTokens = 500L, salt = "t")
    df.collect()
    val desc = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(desc.contains("maxEpochs=16"))
    assert(desc.forall(_ <= '\u00ff'), desc.filter(_ > '\u00ff').distinct)
  }

  test("mix is invariant to partitioning and row order") {
    val shuffled = docs.orderBy(rand(7)).repartition(7)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Mix.mix(df, "text", "doc_id", "source",
          Seq("a" -> 0.7, "b" -> 0.3), 150L, salt = "t")
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(docs) === ids(shuffled))
  }
}
