package graft

import graft.ops.SemDedup

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // axis-aligned clusters: ids 1-3 near +x, ids 10-11 near +y;
  // 1 and 2 are near-identical, 3 is same-cluster but distinct
  private def emb = Seq(
    (1L, Seq(1.0f, 0.0f, 0.01f)),
    (2L, Seq(1.0f, 0.0f, 0.02f)),   // near-dup of 1
    (3L, Seq(0.8f, 0.0f, 0.6f)),    // same cluster, not a dup
    (10L, Seq(0.0f, 1.0f, 0.01f)),
    (11L, Seq(0.0f, 1.0f, 0.012f))) // near-dup of 10
    .toDF("vec_id", "embedding")

  test("lowest id in each near-dup group survives, distinct members keep") {
    val r = SemDedup.report(emb, eps = 0.999, nClusters = 2, iters = 2)._1
      .orderBy("vec_id").collect()
    val keep = r.map(x => x.getLong(0) -> x.getLong(4)).toMap
    val dupOf = r.map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(keep === Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 10L -> 1L, 11L -> 0L))
    assert(dupOf(2L) === 1L && dupOf(11L) === 10L)
    assert(dupOf(1L) === -1L && dupOf(3L) === -1L)
  }

  test("cross-cluster near-identical vectors are NOT compared (the paper's accepted trade)") {
    // force k = number of vectors so every vector sits alone
    val r = SemDedup.report(emb, eps = 0.9, nClusters = 5, iters = 2)._1
      .orderBy("vec_id").collect()
    assert(r.forall(_.getLong(4) === 1L))
  }

  test("a planted giant cluster sub-splits; the LSH repair recovers cross-cell dups") {
    // 12 identical vectors -> one cluster of 12; cap at 6 -> 2 cells
    // by id parity. Identical vectors sketch to the SAME sign bucket,
    // so the cross-cell repair finds every cross-parity pair: the
    // report equals the unsplit answer — ONE survivor, id 0 — even
    // though the exact pair join ran per cell.
    val giant = (0L until 12L).map(i => (i, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val (split, splitModel) = SemDedup.report(giant, eps = 0.999,
      nClusters = 1, iters = 1, maxClusterSize = 6L)
    val r = split.orderBy("vec_id").collect()
    assert(splitModel.oversized.map(_._2) === Seq(12L))
    assert(r.map(_.getLong(4)).toSeq === (1L +: Seq.fill(11)(0L)))
    // every duplicate's survivor is the GLOBAL head, across cells
    assert(r.drop(1).forall(_.getLong(2) === 0L))

    // repairBits = 0: the documented cheap option — cells only, the
    // cross-cell miss reappears as a second surviving head (id 1)
    val cheap = SemDedup.report(giant, eps = 0.999, nClusters = 1,
        iters = 1, maxClusterSize = 6L, repairBits = 0)._1
      .orderBy("vec_id").collect()
    val keep = cheap.map(x => x.getLong(0) -> x.getLong(4)).toMap
    assert(keep === (0L until 12L).map(i =>
      i -> (if (i <= 1L) 1L else 0L)).toMap)
    assert(cheap.filter(_.getLong(0) >= 2L)
      .forall(x => x.getLong(2) === x.getLong(0) % 2))

    // default cap: guard silent, single survivor
    val (unsplit, unsplitModel) = SemDedup.report(giant, eps = 0.999,
      nClusters = 1, iters = 1)
    val full = unsplit.orderBy("vec_id").collect()
    assert(unsplitModel.oversized.isEmpty)
    assert(full.map(_.getLong(4)).toSeq === (1L +: Seq.fill(11)(0L)))
  }

  test("planted cross-cell near-dup: repaired report equals the unsplit report") {
    // ids 3 and 4 are near-identical (cos ~0.99998) and land in
    // DIFFERENT parity cells of the oversized +x cluster; the rest
    // of the cluster is mutually distinct at eps. Pre-repair the
    // (3, 4) pair was invisible to the split join.
    // single cluster (k = 1) so clustering can't relocate the pair:
    // 7 members, cap 3 -> 3 cells by id mod; 3 lands in cell 0, 4 in
    // cell 1
    val vs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.00f)),
      (1L, Seq(0.9f, 0.0f, 0.44f)),
      (2L, Seq(0.9f, 0.0f, -0.44f)),
      (3L, Seq(0.8f, 0.0f, 0.60f)),
      (4L, Seq(0.8f, 0.003f, 0.60f)), // near-dup of 3, other cell
      (5L, Seq(0.99f, 0.0f, 0.14f)),
      (10L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    def run(cap: Long, bits: Int = 8) = {
      val (df, model) = SemDedup.report(vs, eps = 0.999, nClusters = 1,
        iters = 1, maxClusterSize = cap, repairBits = bits)
      (df.orderBy("vec_id").collect().map(x =>
        (x.getLong(0), x.getLong(2), x.getLong(4))).toSeq, model)
    }
    val (unsplit, _) = run(cap = 100L)
    assert(unsplit.find(_._1 === 4L).get === ((4L, 3L, 0L))) // the dup
    assert(unsplit.count(_._3 === 0L) === 1) // ...and the only one
    val (repaired, model) = run(cap = 3L) // the 7-member cluster splits
    assert(model.oversized.nonEmpty)
    assert(repaired === unsplit)
    // and the cheap option really does miss it (the pair is cross-cell)
    val (cheap, _) = run(cap = 3L, bits = 0)
    assert(cheap.find(_._1 === 4L).get === ((4L, -1L, 1L)))
  }

  test("oversizedAudit reports size, cells, the exposure bound, and the repair's recovered pairs") {
    // two planted clusters: +x with 7 members, +y with 2; cap 3
    val vs = (0L until 7L).map(i => (i, Seq(1.0f, 0.0f, 0.001f * i))) ++
      Seq((10L, Seq(0.0f, 1.0f, 0.0f)), (11L, Seq(0.0f, 1.0f, 0.01f)))
    val r = SemDedup.oversizedAudit(vs.toDF("vec_id", "embedding"),
        eps = 0.9, nClusters = 2, iters = 2, maxClusterSize = 3L)._1
      .collect()
    // only the 7-cluster exceeds the cap: 3 cells (ceil 7/3); balanced
    // cells are (3,2,2) -> within-cell pairs 3+1+1=5; C(7,2)=21 -> 16
    assert(r.length === 1)
    assert(r.head.getAs[Long]("size") === 7L)
    assert(r.head.getAs[Long]("n_cells") === 3L)
    assert(r.head.getAs[Long]("pairs_exposed_max") === 16L)
    // every cross-cell pair here IS a duplicate at eps (near-identical
    // vectors, identical sketches) — the repair recovers all 16: the
    // split drops ZERO pairs on this cluster
    assert(r.head.getAs[Long]("recovered_pairs") === 16L)
    // repair off: exposure unchanged, nothing recovered
    val off = SemDedup.oversizedAudit(vs.toDF("vec_id", "embedding"),
        eps = 0.9, nClusters = 2, iters = 2, maxClusterSize = 3L,
        repairBits = 0)._1
      .collect()
    assert(off.head.getAs[Long]("pairs_exposed_max") === 16L)
    assert(off.head.getAs[Long]("recovered_pairs") === 0L)
    // under-cap corpus: audit is empty, never null-rowed
    assert(SemDedup.oversizedAudit(vs.toDF("vec_id", "embedding"),
      eps = 0.9, nClusters = 2, iters = 2, maxClusterSize = 100L)._1
      .collect().isEmpty)
  }

  test("MULTIPLE oversized clusters sub-split via one broadcast join (no when-chain)") {
    // two giant clusters (12 in +x, 12 in +y), cap 6 -> both split
    // into 2 cells by id parity; the repair recovers the cross-parity
    // pairs in BOTH clusters, so each keeps exactly its global head
    val giants = ((0L until 12L).map(i => (i, Seq(1.0f, 0.0f, 0.0f))) ++
      (100L until 112L).map(i => (i, Seq(0.0f, 1.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val (split, model) = SemDedup.report(giants, eps = 0.999,
      nClusters = 2, iters = 2, maxClusterSize = 6L)
    val r = split.orderBy("vec_id").collect()
    assert(model.oversized.map(_._2) === Seq(12L, 12L))
    val keep = r.map(x => x.getLong(0) -> x.getLong(4)).toMap
    assert(keep === (0L until 12L).map(i =>
      i -> (if (i === 0L) 1L else 0L)).toMap ++
      (100L until 112L).map(i => i -> (if (i === 100L) 1L else 0L)).toMap)
    // every duplicate's survivor is its own cluster's head
    assert(r.filter(_.getLong(4) === 0L).forall(x =>
      x.getLong(2) === (if (x.getLong(0) < 100L) 0L else 100L)))

    // the cheap option (repair off) keeps one head per parity cell
    val cheap = SemDedup.report(giants, eps = 0.999, nClusters = 2,
        iters = 2, maxClusterSize = 6L, repairBits = 0)._1
      .orderBy("vec_id").collect()
    val ckeep = cheap.map(x => x.getLong(0) -> x.getLong(4)).toMap
    assert(ckeep === (0L until 12L).map(i =>
      i -> (if (i <= 1L) 1L else 0L)).toMap ++
      (100L until 112L).map(i => i -> (if (i <= 101L) 1L else 0L)).toMap)
    assert(cheap.filter(_.getLong(4) === 0L)
      .forall(x => x.getLong(2) % 2 === x.getLong(0) % 2))
  }

  test("eps = -1 marks everything after the cluster head as duplicate") {
    val r = SemDedup.report(emb, eps = -1.0, nClusters = 1, iters = 1)._1
      .orderBy("vec_id").collect()
    assert(r.map(_.getLong(4)).toSeq === Seq(1L, 0L, 0L, 0L, 0L))
    // everyone's dup_of is the global head
    assert(r.drop(1).forall(_.getLong(2) === 1L))
  }
}
