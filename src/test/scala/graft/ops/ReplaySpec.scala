package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.PortableSketches

/** The replayable sketch family (functions.PortableSketches and the
  * near-dup operators built on it, whose sketches the DuckDB oracle
  * replays): arithmetic known-answer + property checks, and the
  * kernel-vs-algorithm equivalences that let the one-pass kernels stand
  * in for the explode shapes the oracle SQL states.
  */
class ReplaySpec extends SparkSpec {

  import spark.implicits._

  test("hash60 matches the DuckDB hex-prefix parse (known answer)") {
    // ('0x' || substr(md5('hello'), 1, 15))::BIGINT in DuckDB
    assert(PortableSketches.hash60("hello") === 419982666956583591L)
    // column twin agrees with the driver-side twin
    val got = Seq("hello", "", "spark graft", "ünïcødé")
      .toDF("s").select(PortableSketches.hash60(col("s"))).as[Long].collect()
    assert(got.toSeq === Seq("hello", "", "spark graft", "ünïcødé").map(PortableSketches.hash60))
  }

  test("mulMod61 equals BigInt arithmetic over random 61-bit operands") {
    val rng = new java.util.Random(7)
    val p = BigInt(PortableSketches.P61)
    (1 to 2000).foreach { _ =>
      val a = rng.nextLong() >>> 3 // < 2^61
      val b = rng.nextLong() >>> 3
      assert(BigInt(PortableSketches.mulMod61(a, b)) === (BigInt(a) * BigInt(b)) % p,
        s"a=$a b=$b")
    }
    // boundary: p-1 squared, zero, exact multiples of p
    val m = PortableSketches.P61 - 1
    assert(BigInt(PortableSketches.mulMod61(m, m)) === (BigInt(m) * BigInt(m)) % p)
    assert(PortableSketches.mulMod61(0L, m) === 0L)
  }

  test("portable minhash signature equals a brute-force recompute") {
    val doc = "the quick brown fox jumps over the lazy dog"
    val k = 5
    val sig = PortableSketches
      .computePortableMinHash(org.apache.spark.unsafe.types.UTF8String.fromString(doc), k, 16)
      .toLongArray()
    val grams = doc.sliding(k).toSeq
    val expect = (0 until 16).map { j =>
      grams.map { g =>
        val h = BigInt(PortableSketches.hash60(g))
        (((BigInt(PortableSketches.mixA(j)) * h + BigInt(PortableSketches.mixB(j))) %
          BigInt(PortableSketches.P61)).toLong)
      }.min
    }
    assert(sig.toSeq === expect)
  }

  test("portable winnowing kernel == explode + window-min algorithm (hash60)") {
    // the TextAnalysis.fingerprints kernel and the SQL the oracle states are the
    // same computation: prove it by running the explode shape with the
    // SAME portable hash and comparing fingerprints exactly
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet").limit(50)
    val k = 8; val w = 4
    val kernel = TextAnalysis.fingerprints(docs, k, w)
      .select(col("doc_id"), col("fingerprint"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("i")).rowsBetween(0, w - 1)
    val explodeForm = docs
      .withColumn("norm", Shingles.normalize(col("text")))
      .withColumn("n_grams", length(col("norm")) - lit(k - 1))
      .filter(col("n_grams") - lit(w - 1) > 0)
      .select(col("doc_id"), col("norm"), col("n_grams"),
        explode(sequence(lit(1), col("n_grams"))).as("i"))
      .withColumn("h", PortableSketches.hash60(col("norm").substr(col("i"), lit(k))))
      .withColumn("wmin", min(col("h")).over(win))
      .filter(col("i") <= col("n_grams") - lit(w - 1))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("wmin"))).as("fingerprint"))
    val km = kernel.as[(Long, Seq[Long])].collect().toMap
    val em = explodeForm.as[(Long, Seq[Long])].collect().toMap
    assert(km.keySet === em.keySet)
    km.foreach { case (id, fp) => assert(fp === em(id), s"doc $id") }
  }

  test("portable gram kernels window over characters, not bytes (non-ASCII)") {
    // DuckDB substr/len count code points, so the kernels must too: a
    // multi-byte char (2-byte é, 4-byte emoji) must never split a gram
    // (review r9 — byte windows diverged from md5(substr(...)) on the
    // first non-ASCII char). Expected values recompute via code-point
    // slices hashed through hash60 (= DuckDB md5-hex-prefix semantics).
    val doc = "café über déjà-vu 🚀 naïve çœur"
    val k = 5
    val cps = doc.codePoints().toArray
    val grams = (0 to cps.length - k).map(i => new String(cps, i, k))
    val expectSet = grams.map(PortableSketches.hash60).distinct.sorted
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(doc)
    assert(PortableSketches.computePortableGramHashes(u, k).toLongArray().toSeq === expectSet)
    val sig = PortableSketches.computePortableMinHash(u, k, 8).toLongArray()
    val expectSig = (0 until 8).map { j =>
      grams.map { g =>
        val h = BigInt(PortableSketches.hash60(g))
        ((BigInt(PortableSketches.mixA(j)) * h + BigInt(PortableSketches.mixB(j))) %
          BigInt(PortableSketches.P61)).toLong
      }.min
    }
    assert(sig.toSeq === expectSig)
    // a doc of 4 chars / 8 bytes is below k in CHARACTERS: excluded on both
    // engines (len(norm) >= k), where byte windowing would have included it
    assert(PortableSketches.computePortableGramHashes(
      org.apache.spark.unsafe.types.UTF8String.fromString("çùré"), k).numElements() === 0)
  }

  test("replay simhash finds the exact-dup pair at hamming 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 0)
      .as[(Long, Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 0L)))
  }

  test("replay minhash est_jaccard is 1.0 for exact dups, filtered for unrelated") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "the completely different document body with other words")
    ).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, k = 32, bands = 8, minEstJaccard = 0.25)
      .as[(Long, Long, Double)].collect()
    assert(cands.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("portable gram-hash set equals a substring + hash60 recompute") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet").limit(50)
    val k = 5
    val kernel = docs
      .withColumn("norm", Shingles.normalize(col("text")))
      .select(col("doc_id"), PortableSketches.portableGramHashes(col("norm"), k).as("ghs"))
      .filter(size(col("ghs")) > 0)
    val explodeForm = docs
      .withColumn("norm", Shingles.normalize(col("text")))
      .withColumn("n", length(col("norm")) - lit(k - 1))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("norm"),
        explode(sequence(lit(1), col("n"))).as("i"))
      .select(col("doc_id"), PortableSketches.hash60(col("norm").substr(col("i"), lit(k))).as("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("ghs"))
    val km = kernel.as[(Long, Seq[Long])].collect().toMap
    val em = explodeForm.as[(Long, Seq[Long])].collect().toMap
    assert(km.keySet === em.keySet && km.keySet.nonEmpty)
    km.foreach { case (id, g) => assert(g === em(id), s"doc $id") }
  }

  test("replay verified pairs: exact dup at jaccard 1.0, unrelated filtered, no cache leak") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "the completely different document body with other words instead")
    ).toDF("doc_id", "text")
    val base = spark.sparkContext.getPersistentRDDs.size
    val pairs = Dedup.verifiedNearDupPairs(docs, threshold = 0.31)
    assert(pairs.as[(Long, Long, Double)].collect().toSeq === Seq((1L, 2L, 1.0)))
    // internal sketch cache released; the result is the one persisted handle
    assert(spark.sparkContext.getPersistentRDDs.size === base + 1)
    pairs.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.size === base)
  }
}
