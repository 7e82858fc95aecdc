package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

import graft.ScaleGates
import graft.functions.{PortableSketches, TextSketches}

/** Document deduplication at pipeline scale: exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard.
  *
  * Every near-dup sketch is built from primitives DuckDB also ships — md5
  * via [[PortableSketches.hash60]] and exact integer arithmetic — so the
  * correctness gate's oracle replays the sketch, the banding, the bucket
  * caps and the pair expansion, and pins each operator's full result at
  * its real (pruning) recall. Spark SQL twin of the base hash:
  * `conv(substr(md5(s), 1, 15), 16, 10)` = DuckDB
  * `('0x' || substr(md5(s), 1, 15))::BIGINT`.
  *
  * Design for 100 TB:
  *  - MinHash signatures come from a one-pass codegen'd kernel
  *    ([[PortableSketches.portableMinhashSig]]) inside the scan stage: the
  *    text never shuffles, only (doc_id, 64 longs). Higher-order-function
  *    lambdas are deliberately kept OFF the hot path — they evaluate
  *    interpreted, per element;
  *  - every heavy map stage is preceded by `repartition(doc_id)` so a
  *    few-files input (one file = one scan partition) still uses the whole
  *    cluster; at real scale with thousands of input files the repartition
  *    cost is one pass of the text, traded for balanced compute;
  *  - candidate generation shuffles only (band_key, doc_id) — never the
  *    text, and since r15 not the sketch either: signatures re-attach to
  *    the pair SURVIVORS from the persisted sketch frame (shuffle keys
  *    and metadata, not payloads — optimization guide §2.3/§8);
  *    degenerate LSH buckets (boilerplate shared by millions of docs) are
  *    capped by `maxBucket` before the pair join, bounding the quadratic
  *    blowup and doubling as skew protection;
  *  - exact-verify joins happen only on surviving candidate pairs;
  *  - caching contract: operators that cache intermediates release them
  *    internally once the result is materialized ([[materializeAndRelease]]);
  *    the returned frame is the single persisted handle, which the caller
  *    unpersists when done. A production pipeline would materialize the
  *    result as a table instead of relying on the cache at all.
  */
object Dedup {

  /** Materialize `result` into its own cache, then release the operator's
    * internal `inputs` caches (safe only AFTER materialization — the result
    * is lazy, so an eager unpersist would force the expensive intermediates
    * to recompute once per downstream read). The returned frame is the ONE
    * persisted handle the operator leaks: the caller unpersists it (or
    * `spark.catalog.clearCache()`) when done — VERDICT r4's "explicit
    * handle" contract, spec'd by CacheContractSpec.
    *
    * Making the operator eager is a deliberate tradeoff: callers that only
    * count, or that apply selective filters, pay the full pair-set
    * materialization anyway. Callers wanting lazy composition should use
    * the un-cached primitives (minhashCandidates, bucketPairs) directly.
    *
    * Failure path: if the materializing action throws (OOM, task failure),
    * BOTH the half-filled result cache and the inputs caches are
    * unpersisted before the exception propagates — a caller that catches
    * it is not left holding dead MEMORY_AND_DISK registrations.
    */
  private[ops] def materializeAndRelease(result: DataFrame, inputs: DataFrame*): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      out.count() // one action: fills the result cache, drains the inputs
    } catch {
      case e: Throwable =>
        try out.unpersist() finally inputs.foreach(d => try d.unpersist() catch { case _: Throwable => () })
        throw e
    }
    inputs.foreach(_.unpersist())
    out
  }

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups keyed by content hash (hash-groupBy: one
    * partial+final aggregate over (hash) — the text itself never shuffles
    * because md5 is computed map-side).
    */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Keep exactly one row (lowest id) per distinct text — deterministic
    * alternative to dropDuplicates (which keeps an arbitrary row).
    */
  def dropExactDuplicates(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // -------------------------------------------------------------- minhash

  /** The one sketch stage of the MinHash family, shared by the batch
    * operators below and the signature store
    * ([[IncrementalDedup.SignatureStore.append]]), so the store's
    * candidates equal [[minhashCandidates]] by construction: (doc_id, sig)
    * — plus the sorted distinct gram-hash set `grams` when `withGrams` —
    * from ONE text scan through the replayable kernels of
    * [[PortableSketches]]. The repartition spreads kernel work when the
    * input is a handful of files.
    *
    * The short-doc drop-out is the kernels' exact empty contract (code
    * points < shingleLen ⇒ empty sig), stated as a one-row Generate so the
    * normalize regex AND the kernels evaluate exactly once per row (guide
    * §4.4: a `length(norm) >= shingleLen` filter pushed below the
    * projection ran normalize twice, a `size(sig) > 0` filter ran the
    * kernel twice). With grams, `norm` is materialized in its own
    * projection below the Generate — a non-cheap alias referenced twice is
    * never inlined by CollapseProject.
    */
  private[ops] def sketch(docs: DataFrame, k: Int, shingleLen: Int, withGrams: Boolean,
      textCol: String, idCol: String): DataFrame = {
    val base = docs.repartition(col(idCol))
    if (withGrams)
      base
        .select(col(idCol).as("doc_id"), Shingles.normalize(col(textCol)).as("norm"))
        .select(col("doc_id"),
          Shingles.onceOrDrop(
            struct(
              PortableSketches.portableMinhashSig(col("norm"), shingleLen, k).as("sig"),
              PortableSketches.portableGramHashes(col("norm"), shingleLen).as("grams")),
            p => size(p.getField("sig")) > 0).as("sk"))
        .select(col("doc_id"), col("sk.sig").as("sig"), col("sk.grams").as("grams"))
    else
      base.select(col(idCol).as("doc_id"),
        Shingles.onceOrDrop(
          PortableSketches.portableMinhashSig(Shingles.normalize(col(textCol)), shingleLen, k),
          s => size(s) > 0).as("sig"))
  }

  /** doc_id + k-permutation MinHash signature ([[sketch]] without grams):
    * the one-pass kernel scans each document once inside the scan stage
    * and only (doc_id, k longs) ever leaves it — no shingle explode, no
    * k-buffer aggregate, no shuffle of text. Docs shorter than the
    * shingle drop out.
    */
  def signatures(docs: DataFrame, k: Int = 64, shingleLen: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    sketch(docs, k, shingleLen, withGrams = false, textCol, idCol)

  /** Rejects a banding that leaves signature positions unbanded. */
  private[ops] def requireBanding(k: Int, bands: Int): Unit =
    require(k % bands == 0,
      s"k=$k must be divisible by bands=$bands — otherwise the trailing " +
        s"${k % bands} signature positions are never banded and recall drops silently")

  /** LSH banding: one row per (doc, band) — (doc_id, band_idx, band_key).
    * Docs sharing any (band_idx, band_key) are candidates; b bands of r
    * rows collide with probability ≈ 1-(1-j^r)^b for Jaccard j. The key is
    * the raw signature slice: grouping by the array is exactly injective
    * on the slice, so buckets (and the [2, maxBucket] cap) match the
    * oracle's comma-joined-string key by construction, with no long →
    * string conversion (which cost ~0.7 s at sf0.1).
    */
  private[ops] def bandsOf(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(
          lit(b).as("band_idx"),
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("band_key"))): _*))
        .as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))

  /** Distinct candidate (doc_a, doc_b) ids of banded sketches. The bucket
    * shuffle carries only (band key, doc_id) — never the signature
    * (guide §2.3/§8: shuffle keys, attach payloads to the survivors).
    */
  private def candidateIds(sketches: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame =
    bucketPairs(bandsOf(sketches, bands, rowsPerBand), Seq("band_idx", "band_key"),
        "doc_id", Seq.empty, maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** Number of equal slots of two signatures — an exact integer count on
    * both engines, so no float literal can straddle them.
    */
  private def sigMatches(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v))

  /** Attach each pair end's signature from `sigs` and keep pairs whose
    * estimated Jaccard (matching-slot fraction of `k`) is ≥
    * `minEstJaccard`. Both ends join the IDENTICAL `sigs` subtree —
    * renames ABOVE each join — so ReuseExchange builds that side once;
    * per-side projections (`doc_id as doc_a`) are not `sameResult` and
    * forced two builds. Shared by [[minhashCandidates]] and the store's
    * candidate reads.
    */
  private[ops] def estJaccard(pairIds: DataFrame, sigs: DataFrame, k: Int,
      minEstJaccard: Double): DataFrame = {
    val s = sigs.select(col("doc_id"), col("sig"))
    pairIds
      .join(s, col("doc_a") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("sig", "sig_a")
      .join(s, col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("sig", "sig_b")
      .select(col("doc_a"), col("doc_b"),
        (sigMatches(col("sig_a"), col("sig_b")).cast("double") / lit(k.toDouble))
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Attach each pair end's (sig, grams) from `sketches`, keep pairs with
    * ≥ `minMatches` equal signature slots, and return (doc_a, doc_b,
    * jaccard) for exact gram-set Jaccard ≥ `threshold` — the intersection
    * is a linear merge of the sorted sets
    * ([[TextSketches.sortedIntersectCount]]). One join per
    * pair end brings both payloads; identical subtrees as in
    * [[estJaccard]]. Shared by [[verifiedNearDupPairs]] and the store's
    * verified reads.
    */
  private[ops] def verifiedJaccard(pairIds: DataFrame, sketches: DataFrame,
      minMatches: Int, threshold: Double): DataFrame = {
    val side = sketches.select(col("doc_id"), col("sig"), col("grams"))
    pairIds
      .join(side, col("doc_a") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("sig", "sig_a").withColumnRenamed("grams", "grams_a")
      .join(side, col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("sig", "sig_b").withColumnRenamed("grams", "grams_b")
      .filter(sigMatches(col("sig_a"), col("sig_b")) >= minMatches)
      .select(col("doc_a"), col("doc_b"),
        TextSketches.sortedIntersectCount(col("grams_a"), col("grams_b")).as("shared"),
        size(col("grams_a")).as("na"), size(col("grams_b")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate near-duplicate pairs with estimated Jaccard =
    * matching-signature fraction. `maxBucket` caps pathological buckets
    * before the pair expansion (skew guard). The signatures are persisted:
    * they feed the banding AND both pair ends of the join-back.
    */
  def minhashCandidates(docs: DataFrame, k: Int = 64, bands: Int = 16,
      shingleLen: Int = 5, maxBucket: Int = 100, minEstJaccard: Double = 0.0,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    requireBanding(k, bands)
    val sigs = signatures(docs, k, shingleLen, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    materializeAndRelease(
      estJaccard(candidateIds(sigs, bands, k / bands, maxBucket), sigs, k, minEstJaccard),
      sigs)
  }

  /** Two-stage near-duplicate detection: MinHash+LSH candidates as in
    * [[minhashCandidates]], then an exact Jaccard verify on the distinct
    * gram-hash sets — every stage (signature, banding, bucket cap,
    * integer signature-match floor, gram intersection, threshold)
    * recomputable in DuckDB, so the oracle equals this output at ANY
    * corpus scale by construction. The candidate floor is an INTEGER count
    * of matching signature slots (≥ `minMatches` of k), not a double
    * est-Jaccard compare.
    *
    * Recall contract: a brute-force shingle-join oracle would only match
    * when LSH recall is total over the corpus's true pairs — a
    * probabilistic property (catch rate 1-(1-J^{k/bands})^bands ≈ 0.14 at
    * J = 0.31 for 16×4, ≈ 0.999 at J = 0.8) that tiny corpora violate
    * (ROUNDLOG r8: sf0.001 has 5 true pairs in the recall gap). The oracle
    * replays the CANDIDATE set too, so the gate pins the machinery
    * deterministically and the recall contract is documented, not
    * silently assumed.
    *
    * Cost: ONE text scan builds both sketches, persisted because it is
    * read three times (banding + both pair ends); the LSH shuffle; then a
    * join of surviving candidates against the sketches.
    *
    * CACHING CONTRACT (ADVICE r3 / VERDICT r4): the internal sketches cache
    * is released before returning — the result is materialized into its
    * own cache first (releasing the sketch eagerly on a lazy result would
    * triple-recompute it), then the sketch cache is dropped. The RETURNED
    * frame is the one persisted handle; callers unpersist it when done
    * consuming (Bench/Verify's `spark.catalog.clearCache()` between
    * queries also covers it). Same contract for [[minhashCandidates]],
    * [[Similarity.nearDupPairs]], [[ngramJaccardPairs]] and
    * [[distributedComponents]]; spec'd by CacheContractSpec.
    */
  def verifiedNearDupPairs(docs: DataFrame, threshold: Double = 0.3,
      k: Int = 64, bands: Int = 16, shingleLen: Int = 5, maxBucket: Int = 100,
      minMatches: Int = 10, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    requireBanding(k, bands)
    val sketches = sketch(docs, k, shingleLen, withGrams = true, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    materializeAndRelease(
      verifiedJaccard(candidateIds(sketches, bands, k / bands, maxBucket), sketches,
        minMatches, threshold),
      sketches)
  }

  /** Shared LSH candidate-pair generator: aggregate each bucket with
    * collect_list (ONE shuffle on the bucket key — no self-join, so the
    * upstream sketch pipeline runs exactly once and needs no persist),
    * filter buckets to [2, maxBucket] (singletons carry no pairs; oversized
    * buckets are degenerate boilerplate AND the skew/quadratic guard), then
    * expand unordered in-bucket pairs with a nested lambda. Output columns:
    * `a`, `b` — structs of (id, payload…) with a.id < b.id.
    */
  private[ops] def bucketPairs(df: DataFrame, bucketKeys: Seq[String],
      id: String, payloadCols: Seq[String], maxBucket: Int): DataFrame = {
    val item = struct((id +: payloadCols).map(col): _*)
    df
      .groupBy(bucketKeys.map(col): _*)
      .agg(collect_list(item).as("items"))
      .filter(size(col("items")).between(2, maxBucket))
      .select(explode(flatten(transform(col("items"), x =>
        transform(
          filter(col("items"), y => y(id) > x(id)),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
  }

  // -------------------------------------------------------------- simhash

  /** doc_id + 60-bit SimHash: bit i set iff the majority of token hashes
    * have bit i set. Token hashes are [[PortableSketches.hash60]] (md5's
    * top 60 bits), so the oracle recomputes them. Shape: repartition →
    * normalize once → explode tokens → hash once per token → ONE
    * aggregate with 60 ±1-vote sum buffers (codegen'd, map-side combined)
    * → bitwise pack.
    */
  def simhashes(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .select(col(idCol).as("doc_id"), explode(Shingles.tokensOfNorm(col("norm"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", PortableSketches.hash60(col("tok")))
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

  /** Near-dup pairs by Hamming distance: 4×15-bit band index (a pair within
    * Hamming ≤ 3 must agree on ≥1 band — pigeonhole), exact bit_count verify
    * after the band join. `maxBucket` caps degenerate bands.
    *
    * Recall guarantee holds only for maxHamming ≤ bands-1 = 3: a pair with 4+
    * differing bits can spread one flip into every band and never collide —
    * enforced here rather than silently returning partial results.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 200,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-band recall guarantee (<= 3); " +
        "raise the band count for larger radii")
    val sh = simhashes(docs, textCol, idCol)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_idx"),
          shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL)).as("band_val"))): _*))
        .as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_idx"), col("band.band_val"))
    bucketPairs(banded, Seq("band_idx", "band_val"), "doc_id", Seq("simhash"), maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------- components / corpus dedup

  /** Connected components over an undirected pair list (doc_a, doc_b).
    * Returns (id, component) where component = min id in the cluster.
    *
    * Size-adaptive, like a join picking broadcast vs shuffle: the candidate
    * -pair graph after Jaccard thresholding is orders of magnitude smaller
    * than the corpus (edges exist only between near-duplicates), so it
    * usually fits on the driver — a single-pass union-find there replaces
    * O(cluster diameter) shuffle rounds. Graphs above the
    * `ScaleGates.DriverEdges` budget (collected as primitive tuples, ~40
    * bytes/edge with object headers ⇒ ~200 MB — comfortably inside a driver
    * sized for broadcast joins) fall back to distributed min-label
    * propagation, one join + one min-aggregate per round over (id, label)
    * pairs only — never the documents.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    import org.apache.spark.sql.types._
    // ids keep their own type end-to-end (review r9: an unconditional long
    // cast nulled string doc ids — NPE on the driver path, every doc
    // joining component null on the distributed one). Integral ids still
    // normalize to long so the primitive-tuple collect estimate holds;
    // string ids get the union-find at a quarter of the edge budget (boxed
    // strings, not 16-byte tuples); any other type goes distributed, where
    // min-label propagation only needs an ordering.
    val idType = pairs.schema("doc_a").dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val edges = (if (integral)
        pairs.select(col("doc_a").cast("long").as("src"),
          col("doc_b").cast("long").as("dst"))
      else pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Null ids are counted by the edge gate's one job: a null id would NPE
    // the string union-find (find(null) → null.compareTo on the driver) and
    // silently merge as a phantom label distributed — reject loudly instead,
    // before either branch, mirroring triangleStats' guard (ADVICE r9). The
    // gate counts the bad EDGES directly: deriving it from per-column
    // non-null counts undercounted when src and dst carried nulls in
    // different rows (round-10 review) — the user acts on this number.
    val budget = if (integral) ScaleGates.DriverEdges else ScaleGates.DriverEdges / 4
    ScaleGates.driverLocal(edges, budget, onNullIds = nBad =>
        throw new IllegalArgumentException(
          s"connectedComponents: $nBad edge(s) carry a null doc id — " +
            "filter or repair ids before clustering")) { e =>
      if (integral) Some(unionFind[Long](e))
      else if (idType == StringType) Some(unionFind[String](e))
      else None
    }.getOrElse(distributedComponents(edges, maxIter))
  }

  /** Driver-side union-find (path compression + union-by-min-id, so the
    * root IS the component's minimum id under `Ordering[T]` — for strings
    * the LEXICOGRAPHIC order, matching what the distributed path's
    * `min("component")` yields, so the survivor rule is identical whichever
    * path runs). One pass over the collected edge array; result
    * re-parallelized for downstream joins.
    *
    * Long ids collect as PRIMITIVE (Long, Long) tuples, not Rows — boxed
    * GenericRows cost ~100+ bytes/edge and would put the real driver
    * footprint of `ScaleGates.DriverEdges` edges at 5-10× the estimate
    * (ADVICE r3). Labels go back through sparkContext.parallelize →
    * createDataset (an ExternalRDDScan leaf: the array is shipped as RDD
    * partitions) — NOT Seq.toDF or createDataset(Seq), both of which embed
    * a multi-million-row LocalRelation inside the logical plan itself, where
    * every plan copy/stringification drags the data along.
    */
  private def unionFind[T: Ordering : TypeTag](edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.as[(T, T)].collect()
    val parent = new java.util.HashMap[T, T](pairs.length * 2)
    def find(x: T): T = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path-compress the walked chain
      while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (Ordering[T].lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val labels = pairs.iterator
      .flatMap(p => Iterator(p._1, p._2))
      .distinct.map(id => (id, find(id))).toArray
    spark.createDataset(spark.sparkContext.parallelize(labels))
      .toDF("id", "component")
  }

  /** Distributed min-label propagation to fixpoint (bounded by `maxIter`).
    * Near-dup clusters have tiny diameters in practice, so this converges in
    * a handful of iterations.
    */
  private def distributedComponents(edges: DataFrame, maxIter: Int): DataFrame = {
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each node adopts the min label among itself and its neighbours
      val neighbourMin = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("component"))
      val updated = labels.select(col("id"), col("component"))
        .union(neighbourMin)
        .groupBy("id").agg(min("component").as("component"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // labels decrease monotonically; checking convergence every other
      // iteration halves the extra count jobs at the cost of at most one
      // redundant propagation step
      if (iter % 2 == 1 || iter == maxIter - 1) {
        val changed = updated.join(labels.withColumnRenamed("component", "old"), "id")
          .filter(col("component") =!= col("old")).limit(1).count()
        converged = changed == 0
      }
      labels.unpersist()
      labels = updated
      iter += 1
    }
    sym.unpersist()
    edges.unpersist()
    // min-label propagation advances one hop per iteration: a chain longer
    // than maxIter docs would exit here unconverged and silently split a
    // cluster (extra survivors downstream) — surface it instead
    if (!converged)
      System.err.println(s"[graft] WARN connectedComponents: not converged " +
        s"after maxIter=$maxIter iterations — components may be split; raise maxIter")
    labels
  }

  /** The deduplicated corpus: one survivor (minimum id) per near-dup
    * cluster, all singleton docs kept. `pairs` comes from any of the
    * candidate generators above after verification/thresholding.
    */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val out = docs
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("component")
    // the distributed path hands back a PERSISTED labels frame whose handle
    // would otherwise be unreachable from here (review r9) — fold it into
    // the explicit-handle contract; the driver path returns unpersisted
    // labels and stays fully lazy
    if (comps.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      materializeAndRelease(out, comps)
    else out
  }

  // -------------------------------------------- n-gram Jaccard (exact)

  /** Exact Jaccard similarity on word n-gram sets, for pairs sharing at
    * least one n-gram. The inverted index is capped at `maxBucket` docs per
    * n-gram — frequent n-grams (stopword runs, boilerplate) carry no dedup
    * signal and would otherwise explode the pair count quadratically.
    * Caching contract as in [[verifiedNearDupPairs]]: the returned frame is
    * the one persisted handle; internal caches are released.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.1,
      maxBucket: Int = 200, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // distinct n-gram HASHES from the one-pass kernel (TextSketches): the
    // inverted index below shuffles 8-byte keys, never gram strings
    // no short-doc filter: a size(grams) predicate pushed below the
    // projection re-evaluates the kernel per row (guide §4.4), and empty
    // gram sets are inert anyway — they vanish in the explode and a doc
    // with no grams can never appear in a pair, so the sizes join never
    // sees it. Results are identical with or without the filter.
    val grams = docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .select(col(idCol).as("doc_id"),
        TextSketches.ngramHashes(col("norm"), n).as("grams"))
      // read twice below (sizes + inverted index) — persist or recompute
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.select(col("doc_id"), size(col("grams")).as("n_grams"))
    val inverted = grams.select(col("doc_id"), explode(col("grams")).as("gram"))
    val shared = bucketPairs(inverted, Seq("gram"), "doc_id", Seq.empty, maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    // identical sizes subtree on both ends — see verifiedNearDupPairs
    val out = shared
      .join(sizes, col("doc_a") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("n_grams", "na")
      .join(sizes, col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("n_grams", "nb")
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    materializeAndRelease(out, grams)
  }
}
