package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins [[IncrementalDedup]]'s equivalence contract: a store built by
  * incremental appends yields EXACTLY the full-recompute result over the
  * union of all batches — including cap transitions and multi-generation
  * supersession — plus the crash-safety and fixed-config ledger rules.
  */
class IncrementalDedupSpec extends SparkSpec {

  import spark.implicits._

  private def tempRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-incspec-").toString

  private def candSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private lazy val testdataDocs = spark.read.parquet(s"${sf()}/documents.parquet")

  test("single append batch: candidates == full recompute on base ∪ batch (testdata)") {
    val st = IncrementalDedup.store(spark, tempRoot())
    st.append(testdataDocs.filter(pmod(col("doc_id"), lit(7)) =!= 0))
    st.append(testdataDocs.filter(pmod(col("doc_id"), lit(7)) === 0))
    val full = Dedup.minhashCandidates(testdataDocs, minEstJaccard = 0.25)
    assert(candSet(st.candidates(0.25)) === candSet(full))
    assert(st.committedGens() === Seq(0, 1))
  }

  test("empty-batch append (empty micro-batch / all-short texts) leaves the store readable") {
    val st = IncrementalDedup.store(spark, tempRoot())
    st.append(testdataDocs.filter(col("doc_id") < 50))
    val before = candSet(st.candidates(0.25))
    // a batch that sketches to zero rows (here: filtered to nothing; in
    // production an empty micro-batch or texts below the shingle length)
    st.append(testdataDocs.filter(lit(false)))
    assert(candSet(st.candidates(0.25)) === before)
    assert(st.sigs().count() === st.sigs().dropDuplicates("doc_id").count())
  }

  test("deleting EVERY document then compacting leaves a readable empty store") {
    val st = IncrementalDedup.store(spark, tempRoot())
    val slice = testdataDocs.filter(col("doc_id") < 100)
    st.append(slice)
    st.delete(slice.select("doc_id"))
    st.compact()
    assert(st.committedGens().size === 1)
    assert(st.deleteGens().isEmpty)
    assert(st.sigs().count() === 0)
    assert(st.candidates(0.0).collect().isEmpty)
    // the store remains writable after total takedown
    st.append(slice.filter(col("doc_id") < 50))
    val fresh = IncrementalDedup.store(spark, tempRoot())
    fresh.append(slice.filter(col("doc_id") < 50))
    assert(st.sigs().count() === fresh.sigs().count())
  }

  test("three appends: multi-generation latest-wins == full recompute (testdata)") {
    val st = IncrementalDedup.store(spark, tempRoot())
    (0 to 2).foreach(r => st.append(testdataDocs.filter(pmod(col("doc_id"), lit(3)) === r)))
    val full = Dedup.minhashCandidates(testdataDocs, minEstJaccard = 0.25)
    assert(candSet(st.candidates(0.25)) === candSet(full))
  }

  test("verified pairs from stored grams == full recompute verified pairs") {
    val st = IncrementalDedup.store(spark, tempRoot(),
      IncrementalDedup.Config(withGrams = true))
    st.append(testdataDocs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    st.append(testdataDocs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val inc = st.verifiedPairs(threshold = 0.31, minMatches = 10)
    val full = Dedup.verifiedNearDupPairs(testdataDocs, threshold = 0.31)
    assert(candSet(inc) === candSet(full))
    full.unpersist()
  }

  // Crafted corpus for the cap-transition edges: identical texts share ALL
  // 16 buckets, so bucket size == number of docs carrying that text.
  private def craft(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  private val textA = "the quick brown fox jumps over the lazy dog again and again"
  private val textB = "spark engines shuffle sorted runs across executor memory pools"

  test("cap transitions: overflow drops stale pairs; a grown singleton emits its pair") {
    val cfg = IncrementalDedup.Config(maxBucket = 3)
    val st = IncrementalDedup.store(spark, tempRoot(), cfg)
    // base: textA ×3 (bucket at cap → 3 pairs), textB ×1 (singleton, none)
    st.append(craft(1L -> textA, 2L -> textA, 3L -> textA, 10L -> textB))
    val afterBase = candSet(st.candidates())
    assert(afterBase.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // batch: a 4th textA (overflows the cap → ALL textA pairs must vanish,
    // exactly as a full recompute would drop the bucket) and a 2nd textB
    // (the former singleton bucket now emits its pair)
    st.append(craft(4L -> textA, 11L -> textB))
    val afterBatch = candSet(st.candidates())
    assert(afterBatch.map(p => (p._1, p._2)) === Set((10L, 11L)))
    val full = Dedup.minhashCandidates(
      craft(1L -> textA, 2L -> textA, 3L -> textA, 10L -> textB, 4L -> textA, 11L -> textB),
      maxBucket = 3)
    assert(afterBatch === candSet(full))
  }

  test("crash before commit is invisible; the retry lands the generation") {
    val st = IncrementalDedup.store(spark, tempRoot())
    val base = craft(1L -> textA, 2L -> textB)
    val batch = craft(3L -> textA)
    st.append(base)
    st.append(batch, crashBeforeCommit = true)
    // the half-written gen=1 has data files but no marker: readers see base only
    assert(st.committedGens() === Seq(0))
    assert(candSet(st.candidates()) === candSet(Dedup.minhashCandidates(base)))
    // retry overwrites the orphaned directory and commits
    st.append(batch)
    assert(st.committedGens() === Seq(0, 1))
    assert(candSet(st.candidates()) === candSet(Dedup.minhashCandidates(base.union(batch))))
  }

  test("compact folds generations without changing candidates") {
    val st = IncrementalDedup.store(spark, tempRoot())
    (0 to 2).foreach(r => st.append(testdataDocs.filter(pmod(col("doc_id"), lit(3)) === r)))
    val before = candSet(st.candidates(0.25))
    st.compact()
    assert(st.committedGens().size === 1)
    assert(candSet(st.candidates(0.25)) === before)
    // a post-compact append still works and stays equivalent
    val extra = craft(1000000L -> textA, 1000001L -> textA)
    st.append(extra)
    val full = Dedup.minhashCandidates(testdataDocs.select("doc_id", "text").union(extra),
      minEstJaccard = 0.25)
    assert(candSet(st.candidates(0.25)) === candSet(full))
  }

  test("delete: candidates == full recompute over the SURVIVORS (testdata)") {
    val st = IncrementalDedup.store(spark, tempRoot())
    st.append(testdataDocs.filter(pmod(col("doc_id"), lit(7)) =!= 0))
    st.append(testdataDocs.filter(pmod(col("doc_id"), lit(7)) === 0))
    st.delete(testdataDocs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"))
    val survivors = testdataDocs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
    val full = Dedup.minhashCandidates(survivors, minEstJaccard = 0.25)
    assert(candSet(st.candidates(0.25)) === candSet(full))
    assert(st.deleteGens() === Seq(2))
  }

  test("delete reverse cap transition: an overflowed bucket resumes emitting pairs") {
    val cfg = IncrementalDedup.Config(maxBucket = 3)
    val st = IncrementalDedup.store(spark, tempRoot(), cfg)
    // 4 × textA: bucket over the cap → no pairs
    st.append(craft(1L -> textA, 2L -> textA, 3L -> textA, 4L -> textA))
    assert(candSet(st.candidates()).isEmpty)
    // deleting one brings the bucket back to the cap → its 3 pairs appear,
    // exactly as a full recompute over the survivors would emit them
    st.delete(craft(4L -> textA).select("doc_id"))
    assert(candSet(st.candidates()).map(p => (p._1, p._2))
      === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // deleting another keeps the remaining pair only
    st.delete(craft(2L -> textA).select("doc_id"))
    assert(candSet(st.candidates()).map(p => (p._1, p._2)) === Set((1L, 3L)))
  }

  test("crash before delete commit is invisible; the retry lands it") {
    val st = IncrementalDedup.store(spark, tempRoot())
    val base = craft(1L -> textA, 2L -> textA, 3L -> textB)
    st.append(base)
    val before = candSet(st.candidates())
    st.delete(craft(2L -> textA).select("doc_id"), crashBeforeCommit = true)
    // half-written tombstone gen: no commit marker → nothing masked
    assert(st.committedGens() === Seq(0))
    assert(st.deleteGens() === Seq.empty)
    assert(candSet(st.candidates()) === before)
    st.delete(craft(2L -> textA).select("doc_id"))
    assert(st.deleteGens() === Seq(1))
    assert(candSet(st.candidates())
      === candSet(Dedup.minhashCandidates(craft(1L -> textA, 3L -> textB))))
  }

  test("re-append after delete resurrects the id (latest event wins)") {
    val st = IncrementalDedup.store(spark, tempRoot())
    st.append(craft(1L -> textA, 2L -> textA, 3L -> textB))
    st.delete(craft(2L -> textA).select("doc_id"))
    assert(candSet(st.candidates()).isEmpty)
    st.append(craft(2L -> textA))
    assert(candSet(st.candidates())
      === candSet(Dedup.minhashCandidates(craft(1L -> textA, 2L -> textA, 3L -> textB))))
  }

  test("compact folds tombstones away and restores the join-free path") {
    val st = IncrementalDedup.store(spark, tempRoot())
    st.append(testdataDocs.filter(pmod(col("doc_id"), lit(2)) === 0))
    st.append(testdataDocs.filter(pmod(col("doc_id"), lit(2)) === 1))
    st.delete(testdataDocs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"))
    val before = candSet(st.candidates(0.25))
    st.compact()
    assert(st.committedGens().size === 1)
    assert(st.deleteGens() === Seq.empty)
    assert(candSet(st.candidates(0.25)) === before)
    // deleted ids are gone from the folded store, not just masked
    val deleted = testdataDocs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stored = st.sigs().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stored.intersect(deleted) === Set.empty)
  }

  test("sketch parameters are fixed per store") {
    val root = tempRoot()
    IncrementalDedup.store(spark, root).append(craft(1L -> textA))
    val reopened = IncrementalDedup.store(spark, root,
      IncrementalDedup.Config(bands = 8))
    val e = intercept[IllegalArgumentException] { reopened.append(craft(2L -> textB)) }
    assert(e.getMessage.contains("sketch parameters are fixed per store"))
  }

  test("a default store's _config line is pinned byte for byte") {
    // stores written before the md5 sketch kernels became the only family
    // carry this exact line; any drift would make them unopenable
    val root = tempRoot()
    IncrementalDedup.store(spark, root).append(craft(1L -> textA))
    val line = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, "_config")), "UTF-8")
    assert(line === "k=64;bands=16;shingleLen=5;maxBucket=100;portable=true;" +
      "withGrams=false;bandBuckets=0")
    IncrementalDedup.store(spark, root).append(craft(2L -> textB)) // reopens
    assert(IncrementalDedup.store(spark, root).committedGens() === Seq(0, 1))
  }

  test("a portable=false store (xxhash64 band keys) is refused, not misread") {
    val root = tempRoot()
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_config"),
      ("k=64;bands=16;shingleLen=5;maxBucket=100;portable=false;" +
        "withGrams=false;bandBuckets=0").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.store(spark, root).append(craft(1L -> textA))
    }
    assert(e.getMessage.contains("sketch parameters are fixed per store"), e.getMessage)
  }

  test("verifiedPairs without grams fails loudly") {
    val st = IncrementalDedup.store(spark, tempRoot())
    st.append(craft(1L -> textA))
    val e = intercept[IllegalArgumentException] { st.verifiedPairs() }
    assert(e.getMessage.contains("withGrams"))
  }
}
