package graft.ops

import graft.{SparkSpec, Tables}

/** The explicit-handle caching contract (VERDICT r4 item 3): operators that
  * persist internal intermediates release them before returning, and the
  * RETURNED frame is the single persisted handle — so after a caller
  * consumes the result and unpersists it, no cached RDDs remain at all.
  *
  * Execution-model assumption (ADVICE r6): these tests measure the
  * JVM-global getPersistentRDDs registry as a DELTA from a baseline taken
  * after clearCache(), and rely on suites running sequentially in the one
  * forked test JVM (`Test/fork := true`, no testForkedParallel). Enabling
  * suite-level parallelism would make ANY registry-count assertion racy —
  * revisit the whole approach (e.g. per-test SparkSession) before doing so.
  */
class CacheContractSpec extends SparkSpec {

  import spark.implicits._

  private def cachedRddCount: Int = spark.sparkContext.getPersistentRDDs.size

  /** clearCache, run `body`, and return (delta-after-body, delta-after-unpersist). */
  private def deltaAround(body: => org.apache.spark.sql.DataFrame): (Int, Int) = {
    spark.catalog.clearCache()
    val base = cachedRddCount
    val result = body
    result.collect()
    val afterRun = cachedRddCount - base
    result.unpersist(blocking = true)
    (afterRun, cachedRddCount - base)
  }

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "the quick brown fox jumped over the lazy dog"),
    (4L, "completely unrelated text about spark engines and parquet files")
  ).toDF("doc_id", "text")

  test("verifiedNearDupPairs leaks exactly one handle; unpersist clears all") {
    val (held, released) = deltaAround(Dedup.verifiedNearDupPairs(docs, threshold = 0.5))
    assert(held === 1) // the result handle only — sketches released
    assert(released === 0)
  }

  test("minhashCandidates leaks exactly one handle; unpersist clears all") {
    // the r15 shuffle-bytes optimization re-attaches signatures to pair
    // survivors from a persisted sketch cache instead of carrying them
    // through the banding shuffle — the operator became eager with the
    // standard one-leaked-handle contract
    val (held, released) = deltaAround(Dedup.minhashCandidates(docs))
    assert(held === 1 && released === 0) // result handle only — sigs released
  }

  test("ngramJaccardPairs leaks exactly one handle; unpersist clears all") {
    val (held, released) = deltaAround(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3))
    assert(held === 1)
    assert(released === 0)
  }

  test("Similarity.nearDupPairs leaks exactly one handle; unpersist clears all") {
    val embs = Tables(spark, sf(), "embeddings")
    val planes = Similarity.hyperplanes(dim = 64, tables = 4, bitsPerTable = 4)
    val (held, released) = deltaAround(Similarity.nearDupPairs(embs, threshold = 0.3, planes))
    assert(held === 1)
    assert(released === 0)
  }

  test("Graph.pageRank (local kernel) leaks nothing; result is a local relation") {
    val edges = Seq((2L, 3L), (2L, 5L), (4L, 3L), (6L, 7L)).toDF("src", "dst")
    val (held, released) = deltaAround(Graph.pageRank(edges, "src", "dst", iterations = 3))
    assert(held === 0) // driver-local ranks — the gate's edge cache released
    assert(released === 0)
  }

  test("Graph.pageRank (shuffle fallback) leaks exactly one handle") {
    val edges = Seq((2L, 3L), (2L, 5L), (4L, 3L), (6L, 7L)).toDF("src", "dst")
    val (held, released) = deltaAround(
      forcedDistributed(Graph.pageRank(edges, "src", "dst", iterations = 3)))
    assert(held === 1) // the final rank vector — adj/intermediates released
    assert(released === 0)
  }

  test("bm25Scores leaks exactly one handle; unpersist clears all") {
    val (held, released) = deltaAround(
      TextAnalysis.bm25Scores(docs, queryTerms = Seq("quick", "fox", "parquet")))
    assert(held === 1) // the result handle only — tf released
    assert(released === 0)
  }

  test("sourceKlDivergence leaks exactly one handle; unpersist clears all") {
    val srcDocs = Seq(
      ("the quick brown fox", "src_a"),
      ("spark engines and parquet files", "src_a"),
      ("the lazy dog sleeps", "src_b"),
      ("parquet files everywhere again", "src_b")
    ).toDF("text", "source")
    val (held, released) = deltaAround(TextAnalysis.sourceKlDivergence(srcDocs))
    assert(held === 1)
    assert(released === 0)
  }

  test("fingerprintOverlapPairs leaks exactly one handle (review r9)") {
    val many = (1 to 6).map(i => (i.toLong,
      s"shared boilerplate header block number ${i % 2} with trailing text $i"))
      .toDF("doc_id", "text")
    val (held, released) = deltaAround(TextAnalysis.fingerprintOverlapPairs(many))
    assert(held === 1 && released === 0) // fps + capped released
  }

  test("tfidfTopTerms leaks exactly one handle; unpersist clears all (review r9)") {
    val (held, released) = deltaAround(TextAnalysis.tfidfTopTerms(docs, m = 2))
    assert(held === 1 && released === 0) // tf released
  }

  test("dedupCorpus distributed path folds the labels cache into one handle (review r9)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val corpus = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // driver path: fully lazy, nothing persisted
    val (heldDrv, releasedDrv) = deltaAround(Dedup.dedupCorpus(corpus, pairs))
    assert(heldDrv === 0 && releasedDrv === 0)
    // distributed path (forced): the labels handle must fold into the
    // returned frame instead of dangling unreachable
    val (held, released) = deltaAround(
      forcedDistributed(Dedup.dedupCorpus(corpus, pairs)))
    assert(held === 1 && released === 0)
  }

  test("connectedComponents driver path leaves no cached RDDs at all") {
    spark.catalog.clearCache()
    val base = cachedRddCount
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    Dedup.connectedComponents(pairs).collect()
    assert(cachedRddCount - base === 0) // edges cache released inside the operator
  }

  private lazy val triEdges = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")

  test("triangleStats leaks exactly one handle; unpersist clears all") {
    // r16 driver gate: local branch holds nothing; the distributed branch
    // keeps the one-handle contract
    val (heldLocal, releasedLocal) = deltaAround(Graph.triangleStats(triEdges))
    assert(heldLocal === 0)
    assert(releasedLocal === 0)
    forcedDistributed {
      val (held, released) = deltaAround(Graph.triangleStats(triEdges))
      assert(held === 1) // edge/degree/oriented caches released
      assert(released === 0)
    }
  }

  test("kCore leaks exactly one handle; unpersist clears all") {
    val (heldLocal, releasedLocal) = deltaAround(Graph.kCore(triEdges, k = 2))
    assert(heldLocal === 0)
    assert(releasedLocal === 0)
    forcedDistributed {
      val (held, released) = deltaAround(Graph.kCore(triEdges, k = 2))
      assert(held === 1) // edge cache + alive/deg0 released
      assert(released === 0)
    }
  }

  test("commonNeighborScores leaks exactly one handle; unpersist clears all") {
    // under the r16 driver gate the operator returns a LOCAL frame and
    // releases its edge cache internally — nothing stays persisted at all;
    // the distributed branch keeps the classic one-handle contract
    val (heldLocal, releasedLocal) =
      deltaAround(Graph.commonNeighborScores(triEdges, minCommon = 1))
    assert(heldLocal === 0)
    assert(releasedLocal === 0)
    forcedDistributed {
      val (held, released) = deltaAround(Graph.commonNeighborScores(triEdges, minCommon = 1))
      assert(held === 1)
      assert(released === 0)
    }
  }
}
