package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ANN recall contract at pseudo-scale (r12 verdict item 5): minhash got
  * its 8× recall-vs-ground-truth measurement in the r12 sweep; this spec
  * gives `knn_ivf` the same treatment — measured recall of the IVF probe
  * against the brute-force exact top-k on 2× and 8× replicas of the
  * embeddings table, pinned as a ≥-threshold assertion, PLUS a pruning
  * floor so the recall can never be satisfied vacuously (probing every
  * cell gives recall 1.0 and proves nothing).
  *
  * The replica model mirrors scripts/scale_smoke.py: vec_ids shift by
  * r·span per replica, vectors repeat verbatim — duplicate vectors are
  * exactly what a grown corpus does to an ANN index (denser cells, more
  * score ties), and both sides break ties by vec_id so the comparison
  * stays deterministic. Measured on this fixture (DuckDB replay of the
  * gate oracles, round 13): recall 0.95 at 1×, 1.00 at 2× and 8×, probing
  * 24.6% of the corpus. Thresholds sit below measurement with margin.
  *
  * The 8× leg runs under `graft.forceDistributed` like the r12 oracle
  * sweep, so any gated driver-side branch in scope takes its distributed
  * fallback while the recall is measured.
  */
class IVFRecallSpec extends SparkSpec {

  private lazy val base = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
  private lazy val span: Long =
    base.agg(max(col("vec_id"))).head().getLong(0) + 1L

  private def scaled(rep: Int): DataFrame =
    (0 until rep)
      .map(r => base.select((col("vec_id") + lit(r * span)).as("vec_id"), col("embedding")))
      .reduce(_ union _)

  private lazy val query: Seq[Float] =
    base.filter(col("vec_id") === 0).head().getSeq[Float](1).toSeq

  private def ids(df: DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  private def recallAt(rep: Int, k: Int = 20): (Double, Double) = {
    val e = scaled(rep).persist()
    try {
      val index = IVF.train(e, c = 16, iters = 0)
      val got = ids(IVF.topK(e, index, query, k = k, nprobe = 4))
      val truth = ids(Similarity.bruteForceTopK(e, query, k = k))
      val assigned = IVF.assign(e, index).persist()
      val probeCells = index.centroids.zipWithIndex
        .map { case (c, i) => i -> graft.functions.CosineSimilarity.compute(query.toArray, c.toArray) }
        .sortBy { case (i, s) => (-s, i) }.take(4).map(_._1).toSet
      val total = assigned.count().toDouble
      val probed = assigned.filter(col("cell").isin(probeCells.toSeq: _*)).count().toDouble
      assigned.unpersist()
      ((got intersect truth).size.toDouble / truth.size, probed / total)
    } finally e.unpersist()
  }

  test("IVF recall >= 0.9 vs brute force at 2x, probing <= 50% of the corpus") {
    val (recall, probedFrac) = recallAt(2)
    assert(recall >= 0.9, s"recall=$recall")
    assert(probedFrac <= 0.5, s"probed fraction $probedFrac — pruning collapsed, recall is vacuous")
  }

  test("IVF recall >= 0.9 vs brute force at 8x forced-distributed, probing <= 50%") {
    forcedDistributed {
      val (recall, probedFrac) = recallAt(8)
      assert(recall >= 0.9, s"recall=$recall")
      assert(probedFrac <= 0.5, s"probed fraction $probedFrac — pruning collapsed, recall is vacuous")
    }
  }

  test("LSH annTopK recall >= 0.5 vs brute force at 2x (recall < 1 by construction)") {
    // the LSH path trades recall for obliviousness (no training); pin a
    // floor so a banding regression can't silently zero its usefulness.
    // Same plane family as the knn_ann catalog entry (rademacher 8×4).
    val e = scaled(2).persist()
    try {
      val planes = Similarity.rademacherPlanes(dim = query.size, tables = 8, bitsPerTable = 4)
      val got = ids(Similarity.annTopK(e, query, k = 20, planes))
      val truth = ids(Similarity.bruteForceTopK(e, query, k = 20))
      assert((got intersect truth).size >= 10,
        s"LSH recall ${(got intersect truth).size}/20")
    } finally e.unpersist()
  }
}
