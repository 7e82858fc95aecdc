package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumped over the lazy dog"), // near dup of 1
    (4L, "completely unrelated text about spark engines and parquet files"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates, keeps lowest id") {
    val g = Dedup.exactGroups(docs)
    assert(g.count() === 4) // 1&2 merge; 3,4,5 singletons
    val dupRow = g.filter(col("dup_count") === 2).head()
    assert(dupRow.getAs[Long]("keeper_id") === 1L)
  }

  test("dropExactDuplicates keeps one deterministic row per text") {
    val kept = Dedup.dropExactDuplicates(docs)
    assert(kept.count() === 4)
    assert(kept.filter(col("doc_id") === 2).isEmpty)
    assert(!kept.filter(col("doc_id") === 1).isEmpty)
  }

  test("minhash: identical docs get identical signatures; near-dups high est_jaccard") {
    val sigs = Dedup.signatures(docs, k = 32, shingleLen = 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(!sigs.contains(5L)) // empty doc dropped
    val cands = Dedup.minhashCandidates(docs, k = 32, bands = 16, shingleLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cands((1L, 2L)) === 1.0)
    assert(cands((1L, 3L)) > 0.5) // one-word edit
    assert(!cands.contains((1L, 4L)) || cands((1L, 4L)) < 0.3)
  }

  test("simhash: exact dups identical, near-dups close, unrelated far") {
    val sh = Dedup.simhashes(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) === sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("connected components: transitive chains collapse to one survivor") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L) // chain 1-2-3
    assert(comps(5L) === 5L && comps(6L) === 5L)
    val corpus = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val kept = Dedup.dedupCorpus(corpus, pairs).collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L)) // one per cluster + untouched singleton
  }

  test("connected components keep STRING ids intact on both paths") {
    // review r9: an unconditional long cast nulled non-numeric ids — NPE on
    // the driver path, every doc joining component null on the distributed
    // one (dedupCorpus then dropped every clustered doc)
    val pairs = Seq(("web-2", "web-1"), ("web-3", "web-2"), ("web-9", "web-8"))
      .toDF("doc_a", "doc_b")
    val corpus = (1 to 9).map(i => s"web-$i").toDF("doc_id")
    // driver union-find path: lexicographic min is the component label
    val kept = Dedup.dedupCorpus(corpus, pairs).collect().map(_.getString(0)).toSet
    assert(kept === Set("web-1", "web-4", "web-5", "web-6", "web-7", "web-8"))
    // distributed path (forced) agrees exactly
    val comps = forcedDistributed(Dedup.connectedComponents(pairs))
    val m = comps.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    comps.unpersist()
    assert(m === Map("web-1" -> "web-1", "web-2" -> "web-1", "web-3" -> "web-1",
      "web-8" -> "web-8", "web-9" -> "web-8"))
  }

  test("connected components reject null doc ids loudly") {
    // ADVICE r9: a null id NPE'd the string union-find (find(null) →
    // null.compareTo on the driver) and merged as a phantom label
    // distributed — the guard turns both into one descriptive error
    val strPairs = Seq(("web-1", null: String), ("web-2", "web-3"))
      .toDF("doc_a", "doc_b")
    val e1 = intercept[IllegalArgumentException](Dedup.connectedComponents(strPairs))
    assert(e1.getMessage.contains("null doc id"), e1.getMessage)
    val longPairs = Seq((java.lang.Long.valueOf(1L), null: java.lang.Long))
      .toDF("doc_a", "doc_b")
    val e2 = intercept[IllegalArgumentException](Dedup.connectedComponents(longPairs))
    assert(e2.getMessage.contains("null doc id"), e2.getMessage)
    // the distributed path is guarded by the same probe
    val e3 = intercept[IllegalArgumentException](
      forcedDistributed(Dedup.connectedComponents(strPairs)))
    assert(e3.getMessage.contains("null doc id"), e3.getMessage)
  }

  test("union-find labels re-enter as an RDD scan, never a plan-embedded LocalRelation") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
    val plan = comps.queryExecution.optimizedPlan
    // at the 5M-edge cap a LocalRelation here would embed millions of rows
    // in the plan object itself (VERDICT r4 item 6)
    assert(!plan.exists(_.nodeName.contains("LocalRelation")), plan.toString)
    assert(plan.exists(_.nodeName.contains("ExternalRDD")), plan.toString)
  }

  test("ngram jaccard finds the near-dup pair with high overlap") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("verified near-dup pairs: exact Jaccard values, false positives cut") {
    val pairs = Dedup.verifiedNearDupPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact duplicates: identical shingle sets → true J exactly 1.0
    assert(pairs((1L, 2L)) === 1.0)
    // unrelated doc never clears exact verification, whatever LSH proposed
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // every reported value is a true Jaccard in (0, 1]
    assert(pairs.values.forall(j => j > 0.5 - 1e-12 && j <= 1.0))
  }
}
