package graft

import graft.core.Tables
import graft.ops.{Pq, Similarity}

class PqSpec extends SparkSpec {
  import spark.implicits._

  private def topkPairs(rows: Array[org.apache.spark.sql.Row]): Map[(Long, Long), Double] =
    rows.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap

  test("codebook shapes: m books of ksub codes of subDim dims") {
    val emb = Tables.embeddings(spark, sf)
    val base = Similarity.prepared(emb).cache()
    val books = Pq.train(base, m = 4, ksub = 8, subDim = 16, iters = 1)
    base.unpersist()
    assert(books.length === 4)
    assert(books.forall(_.length === 8))
    assert(books.forall(_.forall(_.length === 16)))
  }

  test("lossless regime (m=1, one code per vector, iters=0) reproduces brute-force cosine") {
    // with ksub >= n and zero Lloyd steps the codebook IS the vector
    // set, reconstruction is exact, and ADC == brute force up to the
    // documented integer-millionth floor of the dot product
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.1f)),
      (1L, Seq(0.0f, 1.0f, 0.2f, 0.0f)),
      (10L, Seq(0.9f, 0.1f, 0.0f, 0.1f)),
      (11L, Seq(0.1f, 0.9f, 0.3f, 0.0f)),
      (12L, Seq(0.5f, 0.5f, 0.1f, 0.1f))).toDF("vec_id", "embedding")
    val pq = topkPairs(Pq.adcTopK(emb, queryMaxId = 2L, k = 4,
      m = 1, ksub = 5, iters = 0)._1.collect())
    val brute = topkPairs(Similarity.bruteForceTopK(emb,
      emb.filter($"vec_id" < 2L), k = 4).collect())
    assert(pq.keySet === brute.keySet)
    pq.foreach { case (pair, sim) =>
      assert(math.abs(sim - brute(pair)) < 2e-5,
        s"pair $pair: pq=$sim brute=${brute(pair)}")
    }
  }

  test("an exact duplicate of a query ranks first under trained codebooks") {
    val dup = Tables.embeddings(spark, sf)
      .filter($"vec_id" === 3L)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .union(dup)
    val rows = Pq.adcTopK(emb, queryMaxId = 5L, k = 20, m = 4, ksub = 16, iters = 2)
      ._1.filter($"q_id" === 3L).collect()
    // identical vector -> identical codes -> maximal approximate sim
    // (other vectors may quantize to the same 4 codes and tie)
    val bySim = rows.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    val maxSim = bySim.values.max
    assert(bySim.contains(10003L) && bySim(10003L) === maxSim)
  }

  test("ADC recall@5 is far above chance, and exact re-ranking repairs it") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb,
      emb.filter($"vec_id" < 10L), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Pq.adcTopK(emb, queryMaxId = 10L, k = 5,
      m = 8, ksub = 16, iters = 2)._1.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    // 16 codes x 8 subspaces on 64 dims is a hard quantization
    // (measured 0.24 here); the bar is USEFUL — far above chance
    // k/n = 0.01 — with re-ranking as the production repair below
    assert(recall >= 0.12, s"adc recall@5 = $recall")
    val reranked = Pq.adcTopKReranked(emb, queryMaxId = 10L, k = 5,
      shortlist = 50, m = 8, ksub = 16, iters = 2)._1.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = (brute & reranked).size.toDouble / brute.size
    assert(rr >= 0.6, s"reranked recall@5 = $rr") // measured 0.80
    assert(rr > recall, "re-ranking must not lose recall")
  }

  test("re-ranked sims are EXACT cosine for the pairs it returns") {
    val emb = Tables.embeddings(spark, sf)
    val brute = topkPairs(Similarity.bruteForceTopK(emb,
      emb.filter($"vec_id" < 5L), k = 400).collect())
    val rr = topkPairs(Pq.adcTopKReranked(emb, queryMaxId = 5L, k = 5,
      shortlist = 30, m = 8, ksub = 16, iters = 1)._1.collect())
    rr.foreach { case (pair, sim) =>
      assert(math.abs(sim - brute(pair)) < 1e-12,
        s"pair $pair: reranked sim $sim != exact ${brute(pair)}")
    }
  }

  test("IVF-PQ candidates are a subset of exhaustive ADC's (the probe cut)") {
    val emb = Tables.embeddings(spark, sf)
    val adc = Pq.adcTopK(emb, queryMaxId = 5L, k = 50,
      m = 4, ksub = 16, iters = 2)._1.collect()
    val ivfpq = Pq.ivfpqTopK(emb, queryMaxId = 5L, k = 50,
      m = 4, ksub = 16, iters = 2, nClusters = 8, nProbe = 3,
      coarseIters = 1)._1.collect()
    val adcSims = topkPairs(adc)
    val ivfpqSims = topkPairs(ivfpq)
    // every scored pair the coarse stage admits must carry the SAME
    // ADC score as the exhaustive path (training is deterministic:
    // same init, same data, same arithmetic)
    val shared = ivfpqSims.keySet & adcSims.keySet
    assert(shared.nonEmpty)
    shared.foreach { pair =>
      assert(math.abs(ivfpqSims(pair) - adcSims(pair)) < 1e-12,
        s"pair $pair scored differently under the probe cut")
    }
    // and the cut is real: ivf-pq scores no more pairs per query than adc
    val adcPerQ = adc.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val ivfPerQ = ivfpq.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    ivfPerQ.foreach { case (q, n) => assert(n <= adcPerQ(q)) }
  }

  test("IVF-PQ + exact re-rank: recall at or above pure IVF-PQ, sims exact") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb,
      emb.filter($"vec_id" < 10L), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = pairs(Pq.ivfpqTopK(emb, queryMaxId = 10L, k = 5,
      m = 8, ksub = 16, iters = 2, nClusters = 8, nProbe = 3,
      coarseIters = 1)._1.collect())
    val rrRows = Pq.ivfpqTopKReranked(emb, queryMaxId = 10L, k = 5,
      shortlist = 50, m = 8, ksub = 16, iters = 2, nClusters = 8,
      nProbe = 3, coarseIters = 1)._1.collect()
    val rr = pairs(rrRows)
    val recallIvfpq = (brute & ivfpq).size.toDouble / brute.size
    val recallRr = (brute & rr).size.toDouble / brute.size
    assert(recallRr >= recallIvfpq,
      s"ivfpq+rerank recall $recallRr fell below pure ivfpq $recallIvfpq")
    // the re-ranked sims are true cosines (same exact-join contract
    // as the ADC re-rank)
    val exact = topkPairs(Similarity.bruteForceTopK(emb,
      emb.filter($"vec_id" < 10L), k = 5000).collect())
    topkPairs(rrRows).foreach { case (pair, sim) =>
      assert(math.abs(sim - exact(pair)) < 1e-12, s"pair $pair")
    }
  }

  test("integer norm literals match the frame (driver-computed once, zero parity risk)") {
    val books = Array(Array(Array(0.5, 0.5), Array(1.0, 0.0)),
      Array(Array(0.0, 2.0), Array(0.3, 0.4)))
    val n2 = Pq.cn2i(books)
    assert(n2(0)(0) === 500000L) // (0.25+0.25)*1e6
    assert(n2(0)(1) === 1000000L)
    assert(n2(1)(0) === 4000000L)
    assert(n2(1)(1) === math.floor((0.09 + 0.16) * 1e6).toLong)
    val frame = Pq.codebookFrame(spark, books)
      .orderBy("sub", "j").select("cn2i").collect().map(_.getLong(0))
    assert(frame.toSeq === Seq(500000L, 1000000L, 4000000L, n2(1)(1)))
  }
}
