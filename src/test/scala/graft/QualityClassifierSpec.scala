package graft

import org.apache.spark.sql.functions._
import graft.ops.QualityClassifier
import graft.functions.HashParity

class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def pos = Seq(
    (1L, "excellent brilliant insightful prose"),
    (2L, "brilliant excellent writing insightful"),
    (3L, "insightful prose excellent clarity")).toDF("doc_id", "text")

  private def neg = Seq(
    (11L, "spam junk clickbait garbage"),
    (12L, "garbage spam junk noise"),
    (13L, "clickbait noise junk spam")).toDF("doc_id", "text")

  test("training separates planted vocabularies; inference keeps the positives") {
    val m = QualityClassifier.train(pos, neg, "text", "doc_id",
      nBuckets = 64, iters = 40, lr = 4.0)
    val all = pos.unionByName(neg)
    val r = QualityClassifier.scoreReport(all, m, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    Seq(1L, 2L, 3L).foreach(id => assert(r(id) === 1L, s"doc $id"))
    Seq(11L, 12L, 13L).foreach(id => assert(r(id) === 0L, s"doc $id"))
  }

  test("decision is repetition-invariant: tf normalization carries into the integer form") {
    val m = QualityClassifier.train(pos, neg, "text", "doc_id",
      nBuckets = 64, iters = 40, lr = 4.0)
    val probe = Seq(
      (21L, "excellent"),
      (22L, "excellent excellent excellent excellent"),
      (23L, "spam"),
      (24L, "spam spam spam spam")).toDF("doc_id", "text")
    val r = QualityClassifier.scoreReport(probe, m, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r(21L) === r(22L))
    assert(r(23L) === r(24L))
    assert(r(21L) === 1L && r(23L) === 0L)
  }

  test("integer inference equals the trained model's real-valued decision") {
    val m = QualityClassifier.train(pos, neg, "text", "doc_id",
      nBuckets = 64, iters = 40, lr = 4.0)
    val all = pos.unionByName(neg)
    val rows = QualityClassifier.scoreReport(all, m, "text", "doc_id")
      .collect()
    // recompute each doc's integer score by hand from the model
    val texts = all.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val toks = texts(id).split(" ", -1)
      val score = toks.map(t =>
        m.weightsPpm((HashParity.h28(t) % m.nBuckets).toInt)).sum
      assert(r.getLong(2) === score)
      assert(r.getLong(1) === toks.length.toLong)
      assert(r.getLong(3) ===
        (if (score + m.biasPpm * toks.length > 0) 1L else 0L))
    }
  }

  test("training is bit-deterministic under repartitioning") {
    // bigger vocab overlap so several buckets carry multi-doc float
    // sums — the configuration that exposed run-dependent weights
    val p = (1L to 12L).map(i =>
      (i, s"excellent brilliant insightful prose sample $i"))
      .toDF("doc_id", "text")
    val n = (21L to 40L).map(i =>
      (i, s"spam junk clickbait garbage noise filler $i"))
      .toDF("doc_id", "text")
    val a = QualityClassifier.train(p, n, "text", "doc_id",
      nBuckets = 64, iters = 15, lr = 3.0)
    val b = QualityClassifier.train(
      p.repartition(7), n.repartition(5), "text", "doc_id",
      nBuckets = 64, iters = 15, lr = 3.0)
    val c = QualityClassifier.train(
      p.repartition(1), n.coalesce(1), "text", "doc_id",
      nBuckets = 64, iters = 15, lr = 3.0)
    assert(a.weightsPpm.toSeq === b.weightsPpm.toSeq)
    assert(a.weightsPpm.toSeq === c.weightsPpm.toSeq)
    assert(a.biasPpm === b.biasPpm && a.biasPpm === c.biasPpm)
  }

  test("training returns its model and empty training fails loudly") {
    val m = QualityClassifier.train(pos, neg, "text", "doc_id",
      nBuckets = 32, iters = 2)
    assert(m.nBuckets === 32)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assertThrows[IllegalArgumentException](
      QualityClassifier.train(empty, empty, "text", "doc_id"))
  }
}
