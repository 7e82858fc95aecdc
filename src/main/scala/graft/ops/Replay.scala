package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableSketches

/** Cross-engine-replayable variants of the sketch/dedup family, used by the
  * correctness gate (VERDICT r3 #1: "a row count is not correctness").
  *
  * The xxhash64 kernels in [[graft.functions.TextSketches]] are the scale
  * path, but no other engine ships xxhash64-with-seed, so their candidate
  * sets could only be gated on row counts. Each operator here computes the
  * SAME algorithm from primitives DuckDB also ships — md5 (via
  * [[PortableSketches.hash60]]) and exact integer arithmetic — so the
  * oracle replays the sketch, the banding, the bucket caps, and the
  * pair expansion, and the gate pins the full result hash at the
  * operator's real (pruning) recall. Spark SQL twin of the base hash:
  * `conv(substr(md5(s), 1, 15), 16, 10)` = DuckDB
  * `('0x' || substr(md5(s), 1, 15))::BIGINT`.
  *
  * Perf contract is unchanged from the fast family: one text scan,
  * sketches shuffle — never documents; same bucket caps. The portable
  * base hash costs one md5 per gram/token instead of one xxhash64 — the
  * price of a replayable gate, paid only by these gate entries.
  */
object Replay {

  /** 60-bit md5 hash column — [[PortableSketches.hash60]] as Spark SQL. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The DuckDB fragment computing the same 60-bit hash. */
  def hash60Sql(x: String): String =
    s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  // ------------------------------------------------------------- minhash

  /** Replayable MinHash+LSH candidate pairs — the portable twin of
    * [[Dedup.minhashCandidates]] (same banding, caps, and est-Jaccard
    * arithmetic; [[PortableSketches.portableMinhashSig]] kernel). Band
    * keys are the raw signature-slice ARRAY (lesson 28: keys only need to
    * GROUP identically to the oracle's, and the array is injective with
    * zero conversion cost — the oracle renders its comma-joined string
    * from the same longs) instead of xxhash64 of the slice.
    */
  def minhashCandidates(docs: DataFrame, k: Int = 64, bands: Int = 16,
      shingleLen: Int = 5, maxBucket: Int = 100, minEstJaccard: Double = 0.0,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rowsPerBand = k / bands
    // persisted: feeds the banding AND both pair ends of the join-back
    // below. The previous shape instead carried the full signature through
    // the banding explode and the bucket shuffle — bands copies of k longs
    // per document where the pair decision needs only (band key, doc_id) —
    // the exact "shuffle keys and metadata instead of payloads" case
    // (guide §2.3/§8); sigs re-attach to the surviving pairs here.
    // the short-doc drop-out is `length(norm) >= shingleLen` — the kernel's
    // exact empty contract (code points < k ⇒ empty sig). Filtering on
    // size(sig) pushed the predicate below the projection and evaluated
    // the md5 kernel TWICE per row (once in the scan-stage filter, once in
    // the post-shuffle projection — guide §4.4's duplication, here for a
    // Catalyst expression); the length form keeps the filter cheap and the
    // kernel single-pass.
    // (r16: the drop-out is now a one-row Generate on the kernel's exact
    // empty contract — size(sig) > 0 ⟺ code points >= shingleLen — so the
    // normalize regex evaluates ONCE per row; the r15 length filter kept
    // the kernel single-pass but still pushed normalize into the scan-stage
    // filter AND the projection.)
    val sigs = docs
      .repartition(col(idCol))
      .select(col(idCol).as("doc_id"),
        Shingles.onceOrDrop(
          PortableSketches.portableMinhashSig(
            Shingles.normalize(col(textCol)), shingleLen, k),
          s => size(s) > 0).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(
      col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(
          lit(b).as("band_idx"),
          // the raw signature slice as the bucket key: grouping by the
          // array is EXACTLY injective on the slice, so buckets (and the
          // [2, maxBucket] cap) match the oracle's comma-joined-string key
          // by construction — and profiling showed the long→string cast +
          // concat burned ~0.7 s at sf0.1
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
            .as("band_key"))): _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))
    val pairIds = Dedup.bucketPairs(banded, Seq("band_idx", "band_key"), "doc_id",
        Seq.empty, maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // identical sig subtree on both ends (renames above the join) so
    // ReuseExchange builds the cached sig side once
    val s = sigs.select(col("doc_id"), col("sig"))
    val out = pairIds
      .join(s, col("doc_a") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("sig", "sig_a")
      .join(s, col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("sig", "sig_b")
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v))
          .cast("double") / lit(k.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
    Dedup.materializeAndRelease(out, sigs)
  }

  /** Replayable two-stage verified near-dup pairs: LSH candidates from the
    * portable minhash banding of [[minhashCandidates]], then an exact
    * Jaccard verify on the portable distinct gram-hash sets — every stage
    * (signature, banding, bucket cap, integer signature-match floor, gram
    * intersection, threshold) recomputable in DuckDB, so the oracle equals
    * this output at ANY corpus scale by construction.
    *
    * Contrast with [[Dedup.verifiedNearDupPairs]] (the xxhash64 scale
    * path): that operator's brute-force oracle only matches when LSH
    * recall is total over the corpus's true pairs — a probabilistic
    * property (catch rate 1-(1-J^{k/bands})^bands ≈ 0.14 at J = 0.31 for
    * 16×4, ≈ 0.999 at J = 0.8) that tiny corpora violate (ROUNDLOG r8:
    * sf0.001 has 5 true pairs in the recall gap). Here the oracle replays
    * the CANDIDATE set too, so the gate pins the machinery determin-
    * istically and the recall contract is documented, not silently
    * assumed.
    *
    * The candidate floor is an INTEGER count of matching signature slots
    * (≥ minMatches of k), not a double est-Jaccard compare: both engines
    * count equal longs, so no float literal can straddle them.
    *
    * Caching contract as in [[Dedup.verifiedNearDupPairs]]: the returned
    * frame is the one persisted handle; the internal sketch cache is
    * released before return.
    */
  def verifiedNearDupPairs(docs: DataFrame, threshold: Double = 0.3,
      k: Int = 64, bands: Int = 16, shingleLen: Int = 5, maxBucket: Int = 100,
      minMatches: Int = 10, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rowsPerBand = k / bands
    // ONE text scan builds both portable sketches; read three times below
    // (banding + both pair ends) — persist, don't rescan
    // short-doc drop-out as a one-row Generate over a (sig, grams) struct:
    // both kernels AND the normalize regex evaluate once per row (guide
    // §4.4). `norm` is materialized below the Generate — a non-cheap alias
    // referenced twice is never inlined by CollapseProject.
    val sketches = docs
      .repartition(col(idCol))
      .select(col(idCol).as("doc_id"), Shingles.normalize(col(textCol)).as("norm"))
      .select(col("doc_id"),
        Shingles.onceOrDrop(
          struct(
            PortableSketches.portableMinhashSig(col("norm"), shingleLen, k).as("sig"),
            PortableSketches.portableGramHashes(col("norm"), shingleLen).as("grams")),
          p => size(p.getField("sig")) > 0).as("sk"))
      .select(col("doc_id"), col("sk.sig").as("sig"), col("sk.grams").as("grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bucket shuffle carries only (band key, doc_id) — sig and grams
    // re-attach from the cache after the pair decision (guide §2.3/§8);
    // one join per pair end brings BOTH payloads, and the identical
    // subtree on each end lets ReuseExchange build that side once
    val banded = sketches.select(
      col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(
          lit(b).as("band_idx"),
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("band_key"))): _*))
        .as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))
    val candIds = Dedup.bucketPairs(banded, Seq("band_idx", "band_key"), "doc_id",
        Seq.empty, maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val side = sketches.select(col("doc_id"), col("sig"), col("grams"))
    val verified = candIds
      .join(side, col("doc_a") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("sig", "sig_a").withColumnRenamed("grams", "grams_doc_a")
      .join(side, col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("sig", "sig_b").withColumnRenamed("grams", "grams_doc_b")
      .filter(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v))
        >= minMatches)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextSketches.sortedIntersectCount(
          col("grams_doc_a"), col("grams_doc_b")).as("shared"),
        size(col("grams_doc_a")).as("na"), size(col("grams_doc_b")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Dedup.materializeAndRelease(verified, sketches)
  }

  // ------------------------------------------------------------- simhash

  /** Replayable 60-bit SimHash (md5-based token hashes; otherwise the
    * [[Dedup.simhashes]] algorithm: explode tokens → 60 ±1-vote sums →
    * bitwise pack).
    */
  def simhashes(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .select(col(idCol).as("doc_id"), explode(Shingles.tokensOfNorm(col("norm"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", hash60(col("tok")))
    val votes = (0 until 60).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$i"))
    toks
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 60).foldLeft(lit(0L)) { (acc, i) =>
          acc.bitwiseOR(shiftleft(when(col(s"v$i") >= 0, lit(1L)).otherwise(lit(0L)), i))
        }.as("simhash"))
  }

  /** Replayable SimHash near-dup pairs: 4×15-bit pigeonhole bands (recall
    * exact for maxHamming ≤ 3, same argument as [[Dedup.simhashPairs]]),
    * exact bit_count verify.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 200,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3, s"maxHamming=$maxHamming exceeds the 4-band recall guarantee (<= 3)")
    val sh = simhashes(docs, textCol, idCol)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_idx"),
          shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL)).as("band_val"))): _*))
        .as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_idx"), col("band.band_val"))
    Dedup.bucketPairs(banded, Seq("band_idx", "band_val"), "doc_id", Seq("simhash"), maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------- fingerprints

  /** Replayable winnowing fingerprints via the one-pass
    * [[PortableSketches.portableWinnowedFingerprint]] kernel (proven equal
    * to the explode → window-min algorithm the SQL oracle states —
    * ReplaySpec; the explode shape cost 5.5 s vs ~1 s at sf0.1). Returns
    * (doc_id, content_hash, fingerprint).
    */
  def fingerprints(docs: DataFrame, k: Int = 8, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .repartition(col(idCol))
      // short-doc drop-out via the winnow kernel's exact empty contract
      // (code points < k+w-1 ⇒ no full window ⇒ empty fingerprint), as a
      // one-row Generate: kernel AND normalize run once per row (guide
      // §4.4 — the r15 length filter still evaluated normalize twice)
      .select(col(idCol).as("doc_id"),
        Shingles.onceOrDrop(
          struct(hash60(col(textCol)).as("content_hash"),
            PortableSketches.portableWinnowedFingerprint(
              Shingles.normalize(col(textCol)), k, w).as("fingerprint")),
          p => size(p.getField("fingerprint")) > 0).as("fp"))
      .select(col("doc_id"), col("fp.content_hash").as("content_hash"),
        col("fp.fingerprint").as("fingerprint"))

  /** Replayable fingerprint-overlap pairs — the portable twin of
    * [[TextAnalysis.fingerprintOverlapPairs]] (same inverted index,
    * bucket cap, minShared and overlap arithmetic).
    */
  def fingerprintOverlapPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
      minShared: Int = 2, maxBucket: Int = 200, minOverlap: Double = 0.3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fps = fingerprints(docs, k, w, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // sizes + index
    val sizes = fps.select(col("doc_id"), size(col("fingerprint")).as("n_fp"))
    val inverted = fps.select(col("doc_id"), explode(col("fingerprint")).as("fp"))
    val bucketSizes = inverted.groupBy("fp").agg(count(lit(1)).as("bs"))
      .filter(col("bs").between(2, maxBucket))
    val capped = inverted.join(bucketSizes.select("fp"), "fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // self-join with IDENTICAL subtrees on both sides (aliases, renames in
    // the projection ABOVE the join): per-side projections (`doc_id as
    // doc_a`) are not `sameResult`, so the planner shuffled the capped
    // index twice; with one shared subtree ReuseExchange serves the second
    // side from the first's exchange. Same for the two sizes joins below.
    val shared = capped.as("a")
      .join(capped.as("b"), col("a.fp") === col("b.fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val out = shared
      .join(sizes, col("doc_a") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("n_fp", "na")
      .join(sizes, col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("n_fp", "nb")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") / least(col("na"), col("nb"))).as("overlap"))
      .filter(col("overlap") >= minOverlap)
    // explicit-handle caching contract (review r9: fps + capped leaked)
    Dedup.materializeAndRelease(out, fps, capped)
  }
}
