package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index with incremental appends — the ANN twin of
  * [[IncrementalDedup]] (r12 verdict: "persisted MinHash signatures / IVF
  * cells ... new-vs-index candidate join, not an all-corpus rebuild").
  *
  * The store IS the classic IVF layout: one parquet directory per cell
  * (`partitionBy("cell")`), each holding the (vec_id, embedding) rows
  * assigned to that centroid. A query probes the `nprobe` nearest cells
  * and reads ONLY their partitions — at 100 TB the scan cost is
  * nprobe/c of the corpus by partition pruning, with no index service in
  * front of the data. Appending a batch assigns ONLY the new vectors
  * (one map-side argmax per vector against the c centroids — no shuffle
  * of stored data, no re-assignment of the corpus).
  *
  * == Equivalence contract ==
  *
  * Cell assignment is a pure per-vector function of the centroids, so a
  * store built by ANY sequence of appends equals the full one-shot
  * assignment of the union — and `topK` equals [[IVF.topK]] over the
  * union with the same index. The centroids are FROZEN at create()
  * (standard IVF practice: retraining re-shuffles every list; production
  * systems rebuild offline and swap). The catalog entry pins this against
  * the same DuckDB oracle as `knn_ivf`, with the batch chosen as the
  * highest vec_ids so the frozen base-trained centroids (first-c-by-id
  * init) are bit-identical to what full-corpus training would init.
  *
  * == Layout / crash safety ==
  *
  * Same generation-delta + commit-marker dance as [[IncrementalDedup]],
  * and the same read path ([[graft.meta.GenLedger.live]]):
  * `gen=N/cells/cell=C/` part files written first, `_commits/gen=N` last;
  * readers union committed generations only; a crashed append's orphan
  * directory is overwritten by the retry. Centroids persist once at
  * create() (`centroids/` parquet: cell, position, weight) and are
  * re-read on open, so a store survives the JVM that built it.
  *
  * == Deletion / compaction ==
  *
  * [[Store.delete]] commits a TOMBSTONE generation (`gen=N/deletes/` of
  * vec_ids, flagged by a `_tombstones/gen=N` kind marker written BEFORE
  * the commit marker): no cell data moves — the doc is masked at read
  * time, with a tombstone at generation dg hiding rows from every
  * generation g <= dg (a later re-append resurrects the id). With no
  * tombstones the read path is the join-free per-root union; while they
  * exist, reads pay a per-vector latest-event join (takedown sets are
  * tiny — AQE broadcasts), and the probe's cell filter still pushes below
  * the join so partition pruning is preserved. [[Store.compact]] folds
  * every generation into one — applying tombstones for real — and commits
  * via a `_compactions/gen=N` marker that makes readers ignore all lower
  * generations, so the old-directory sweep is lazy-safe (same dance as
  * [[IncrementalDedup.SignatureStore.compact]]).
  */
object IVFStore {

  /** Create a new store at `path` with frozen `index` centroids.
    *
    * Alongside the centroids, a `_config` file persists the search
    * conventions that otherwise live in calling code — vector dimension,
    * cell count, metric, and the store's default `nprobe` — so a reader
    * opening the store months later probes it the way it was built
    * (IncrementalDedup's `_config` discipline applied to the ANN twin;
    * r13 open thread). `open()` refuses a store whose persisted config
    * disagrees with its centroids.
    */
  def create(spark: SparkSession, path: String, index: IVF.Index,
      defaultNprobe: Int = 2): Store = {
    import spark.implicits._
    require(index.centroids.nonEmpty, "an IVF index needs at least one centroid")
    require(index.centroids.forall(_.size == index.dim),
      s"ragged centroids: all must have dim=${index.dim}")
    require(defaultNprobe >= 1 && defaultNprobe <= index.centroids.size,
      s"defaultNprobe=$defaultNprobe must be in [1, ${index.centroids.size}]")
    val rows = index.centroids.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (w, d) => (i, d, w) }
    }
    rows.toDF("cell", "dim", "weight")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_config"), true)
    try out.write(configLine(index, defaultNprobe).getBytes("UTF-8"))
    finally out.close()
    // a FRESH store at this path: drop part schemas cached for a previous
    // store that lived at the same root (e.g. retrainAndSwap wiping and
    // re-creating a crashed vNext, or a test reusing a directory)
    graft.meta.GenLedger.forgetPartSchemas(path)
    new Store(spark, path, index, defaultNprobe)
  }

  private def configLine(index: IVF.Index, defaultNprobe: Int): String =
    s"dim=${index.dim};cells=${index.centroids.size};metric=cosine;" +
      s"defaultNprobe=$defaultNprobe"

  /** Open an existing store, reloading its frozen centroids and persisted
    * search config, and verifying they agree (a truncated or foreign
    * centroids file must fail loudly, not probe wrongly).
    */
  def open(spark: SparkSession, path: String): Store = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cfgPath = new org.apache.hadoop.fs.Path(path, "_config")
    val centroidsExist = fs.exists(new org.apache.hadoop.fs.Path(path, "centroids"))
    require(fs.exists(cfgPath) || centroidsExist,
      s"no _config or centroids at $path — not an IVF store")
    // centroids/ is our own fixed format (written by create() above) — a
    // static schema skips the per-open footer-inference round trip
    val centroidsSchema = new org.apache.spark.sql.types.StructType()
      .add("cell", org.apache.spark.sql.types.IntegerType, nullable = false)
      .add("dim", org.apache.spark.sql.types.IntegerType, nullable = false)
      .add("weight", org.apache.spark.sql.types.FloatType, nullable = false)
    val rows = spark.read.schema(centroidsSchema).parquet(s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getFloat(2)))
    require(rows.nonEmpty, s"no centroids at $path — not an IVF store")
    val centroids = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, ds) =>
      ds.sortBy(_._2).map(_._3).toSeq
    }
    val index = IVF.Index(centroids)
    if (!fs.exists(cfgPath)) {
      // a store persisted by the r13 writer (centroids only, pre-_config):
      // dim/cells derive from the centroids file itself, the defaults are
      // the original calling conventions (cosine, nprobe=2), and the
      // derived config is HEALED onto disk so the fallback runs once per
      // store, not once per open (ADVICE r13: a hard _config requirement
      // was a silent on-disk format break with no migration path).
      // The heal is BEST-EFFORT and atomic (ADVICE r14): the Store is
      // built from the in-memory derived config either way, so a
      // read-only filesystem still opens; and the tmp+rename publish
      // means a concurrent opener never reads a torn half-written
      // _config (a plain overwrite=true create truncates in place).
      val nprobe = math.min(2, centroids.size)
      System.err.println(s"[ivf-store] $path has no _config (pre-r13 layout) — " +
        s"deriving dim=${index.dim}/cells=${centroids.size}/defaultNprobe=$nprobe " +
        "from the centroids file and healing _config")
      try {
        val tmp = new org.apache.hadoop.fs.Path(path,
          s"tmp__config_${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(configLine(index, nprobe).getBytes("UTF-8")) finally out.close()
        // rename-refused (another opener healed first) is fine — theirs
        // derives from the same centroids file, so the content is equal
        if (!fs.rename(tmp, cfgPath)) fs.delete(tmp, false)
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"[ivf-store] could not heal _config at $path " +
            s"(${e.getMessage}) — continuing on the derived in-memory config")
      }
      return new Store(spark, path, index, nprobe)
    }
    val in = fs.open(cfgPath)
    val cfg = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val kv = cfg.split(";").map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    require(kv.get("metric").contains("cosine"),
      s"IVF store at $path uses metric=${kv.getOrElse("metric", "?")}; this build supports cosine")
    val nprobe = kv.get("defaultNprobe").flatMap(_.toIntOption).getOrElse(
      throw new IllegalArgumentException(
        s"IVF store at $path: _config has no numeric defaultNprobe " +
          s"([${cfg}]) — store is corrupt or from an incompatible writer"))
    require(kv.get("cells").contains(centroids.size.toString) &&
        kv.get("dim").contains(index.dim.toString),
      s"IVF store at $path: _config says dim=${kv.getOrElse("dim", "?")}/" +
        s"cells=${kv.getOrElse("cells", "?")} but the centroids file holds " +
        s"dim=${index.dim}/cells=${centroids.size} — store is corrupt or mixed")
    // the same [1, cells] contract create() enforces — nprobe=0 would make
    // every default probe silently return 0 rows instead of failing loudly
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"IVF store at $path: _config defaultNprobe=$nprobe outside [1, ${centroids.size}]")
    new Store(spark, path, index, nprobe)
  }

  // ---- versioned root: offline retrain + atomic swap (r13 verdict item 5)

  /** Frozen centroids are standard IVF practice, but a long-lived
    * deployment pairs them with an OFFLINE rebuild: train fresh centroids
    * on the live corpus, build a brand-new store beside the old one, then
    * atomically swap a pointer. The versioned layout is GenLedger's marker
    * discipline applied to whole stores:
    * {{{
    *   root/v=N          a complete Store (centroids, _config, generations)
    *   root/_versions/v=N  version marker — created LAST, current = max N
    *   root/_lock        swap lease (same single-writer lease as stores)
    * }}}
    * Readers resolve `max(_versions)` at open; a crash mid-build leaves an
    * orphan `v=N` directory with no marker (invisible, overwritten by the
    * retry). [[retrainAndSwap]] keeps the OUTGOING version's directory so
    * in-flight readers holding the old [[Store]] finish their queries on
    * it; versions older than that are swept.
    */
  def createVersioned(spark: SparkSession, root: String, index: IVF.Index,
      defaultNprobe: Int = 2): Store = {
    val st = create(spark, s"$root/v=1", index, defaultNprobe)
    publishVersion(spark, root, 1)
    st
  }

  /** The active version number (max committed `_versions` marker). */
  def currentVersion(spark: SparkSession, root: String): Int = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(root, "_versions")
    require(fs.exists(dir), s"no _versions at $root — not a versioned IVF store")
    val vs = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.stripPrefix("v=").toInt }
    require(vs.nonEmpty, s"no committed version at $root")
    vs.max
  }

  /** Open the ACTIVE version of a versioned store. */
  def openCurrent(spark: SparkSession, root: String): Store =
    open(spark, s"$root/v=${currentVersion(spark, root)}")

  private def publishVersion(spark: SparkSession, root: String, v: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_versions"))
    fs.create(new org.apache.hadoop.fs.Path(root, s"_versions/v=$v"), true).close()
  }

  /** Rebuild the index offline and swap it in: train fresh centroids on
    * the CURRENT live vectors (tombstones applied — a takedown-heavy store
    * re-clusters on what actually remains), load them into a new version
    * directory, then publish the version marker. The swap is atomic at the
    * marker; old readers finish on the retained previous version; versions
    * older than the outgoing one are swept. Runs under the versioned
    * root's writer lease — two concurrent retrains would otherwise both
    * mint `v = current + 1`.
    *
    * == Ingest races the rebuild — and loses nothing (r14 verdict item 1) ==
    *
    * The root lease does NOT cover the outgoing store, so an ingest stream
    * keeps appending to it while the rebuild runs (the rebuild can take
    * hours at 100 TB; blocking ingest across it would be the real cost).
    * Until r15 those generations were silently dropped — "pause ingest
    * across a swap" was a scaladoc contract, the exact
    * contract-by-documentation shape the writer lease replaced. Now:
    *
    *  1. BULK: generations are listed ONCE (a pinned snapshot) and both
    *     the training set and the new version's bulk generation come from
    *     that list, carrying every idempotency key the snapshot had
    *     applied;
    *  2. DRAIN: generations committed to the outgoing version since the
    *     snapshot are re-read and applied to the new version IN ORDER
    *     (appends re-assigned against the new centroids, tombstones
    *     re-deleted), each carrying its own keys — looped unlocked until a
    *     pass finds nothing new;
    *  3. FINAL: the outgoing store's own lease is taken (a mid-flight
    *     ingest mutation makes this fail LOUDLY — retry the swap), the
    *     last stragglers drain, the outgoing version is SEALED
    *     ([[graft.meta.GenLedger.seal]] — a stale Store handle's next
    *     append refuses with "re-open via openCurrent" instead of writing
    *     vectors the new version will never see), and the version marker
    *     publishes.
    *
    * A compaction committed to the outgoing version mid-rebuild folds
    * pre-snapshot data into one new generation, so "apply newer
    * generations" would duplicate the fold — the drain detects one
    * ([[graft.meta.GenLedger.compactionGens]]) and rebuilds the bulk from
    * a fresh snapshot instead (the already-trained centroids are reused:
    * a fold never changes live content, and centroids are frozen-by-design
    * anyway).
    *
    * Post-swap contract (spec-pinned, and oracle-checked by the
    * `knn_ivf_retrain_swap` catalog entry): with no concurrent mutations,
    * `openCurrent(...).topK` equals a from-scratch [[IVF.topK]] over
    * exactly the live vectors, because [[IVF.train]] is deterministic
    * (first-c-by-id init, decimal-exact means) and cell assignment is a
    * pure function of the centroids. With mid-rebuild mutations, the new
    * version holds exactly the outgoing version's final live set (the
    * centroids were trained on the snapshot — standard IVF practice trains
    * on a sample; assignment quality, not membership, is what training
    * affects).
    */
  def retrainAndSwap(spark: SparkSession, root: String, c: Int, iters: Int = 3,
      defaultNprobe: Option[Int] = None): Store =
    retrainAndSwapImpl(spark, root, c, iters, defaultNprobe, () => ())

  /** [[retrainAndSwap]] with a test seam: `midBuild` runs after the bulk
    * load and before the drain — the spec interleaves mutations on the
    * OUTGOING version there and proves none is lost (IVFRetrainSwapSpec).
    */
  private[graft] def retrainAndSwapImpl(spark: SparkSession, root: String, c: Int,
      iters: Int, defaultNprobe: Option[Int], midBuild: () => Unit): Store = {
    val rootLedger = new graft.meta.GenLedger(spark, root)
    rootLedger.withWriterLock {
      val cur = currentVersion(spark, root)
      val oldRoot = s"$root/v=$cur"
      val oldLedger = new graft.meta.GenLedger(spark, oldRoot)
      val next = cur + 1
      val nextRoot = s"$root/v=$next"
      val fs = rootLedger.fs

      // train ONCE, on the first snapshot's live vectors
      val old0 = open(spark, oldRoot)
      val idx = IVF.train(
        old0.cellsAt(old0.committedGens(), old0.deleteGens())
          .select("vec_id", "embedding"), c, iters)
      val np = defaultNprobe.getOrElse(math.min(old0.defaultNprobe, c))

      /** Wipe nextRoot (a CRASHED prior swap may have left committed
        * generations there — create() alone only overwrites centroids and
        * config, and stale generations would double-count every vector),
        * then load a pinned snapshot of the outgoing store as the bulk
        * generation, carrying the snapshot's applied keys. Returns the new
        * store and the snapshot's generation set.
        */
      def bulkLoad(): (Store, Set[Int]) = {
        fs.delete(new org.apache.hadoop.fs.Path(nextRoot), true)
        val old = open(spark, oldRoot)
        val snapGens = old.committedGens()
        val snapDels = old.deleteGens()
        val st = create(spark, nextRoot, idx, np)
        st.appendCarrying(
          old.cellsAt(snapGens, snapDels).select("vec_id", "embedding"),
          snapGens.flatMap(oldLedger.keysOf).distinct)
        (st, snapGens.toSet)
      }

      /** One catch-up pass: apply every outgoing generation not yet seen,
        * in order. Returns the updated seen set, or None when a committed
        * compaction forces a bulk rebuild.
        */
      def drain(st: Store, seen: Set[Int]): Option[Set[Int]] = {
        val gens = oldLedger.committedGens()
        val dels = oldLedger.deleteGens().toSet
        if (oldLedger.compactionGens().exists(g => !seen(g))) return None
        gens.filterNot(seen).sorted.foreach { g =>
          val keys = oldLedger.keysOf(g)
          if (dels(g)) st.deleteCarrying(oldLedger.readPart("deletes", g), keys)
          else
            st.appendCarrying(
              oldLedger.readPart("cells", g).select("vec_id", "embedding"), keys)
        }
        Some(seen ++ gens)
      }

      var (st, seen) = bulkLoad()
      midBuild()
      // unlocked passes until a fixed point — each pass drains everything
      // committed so far, so this converges as soon as ingest pauses for
      // one pass. Capped: against a firehose that never pauses, fall
      // through to the locked final pass, which drains the remainder with
      // ingest held off
      var converged = false
      var passes = 0
      while (!converged && passes < 8) {
        passes += 1
        drain(st, seen) match {
          case None => val r = bulkLoad(); st = r._1; seen = r._2
          case Some(s2) => if (s2 == seen) converged = true else seen = s2
        }
      }
      // FINAL pass under the OUTGOING store's lease: nothing can commit
      // there once we hold it (a mid-flight ingest mutation makes the
      // acquire fail loudly — retry the swap when it finishes).
      // ignoreSeal: a swap that crashed between seal and publish left the
      // outgoing version sealed — the retry must still finish the publish
      oldLedger.withWriterLock(ignoreSeal = true) {
        drain(st, seen) match {
          case None =>
            // a compaction raced exactly into the final window: reload from
            // a snapshot taken UNDER the lease — nothing further can land,
            // so the reload is itself the complete final state
            val r = bulkLoad(); st = r._1; seen = r._2
          case Some(s2) => seen = s2
        }
        oldLedger.seal(
          s"superseded by v=$next (retrainAndSwap) — re-open via IVFStore.openCurrent")
        publishVersion(spark, root, next)
      }
      // sweep versions older than the OUTGOING one: `cur` stays for
      // in-flight readers, everything below has had a full swap cycle to
      // drain. Lazy-safe: a crash mid-sweep re-heals on the next swap.
      (1 until cur).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"v=$v"), true)
        fs.delete(new org.apache.hadoop.fs.Path(root, s"_versions/v=$v"), false)
      }
      st
    }
  }

  final class Store(spark: SparkSession, root: String, val index: IVF.Index,
      val defaultNprobe: Int = 2) {

    // marker protocol, `gen=N/<part>` layout and masked read path
    // single-sourced with IncrementalDedup.SignatureStore
    private val ledger = new graft.meta.GenLedger(spark, root)
    private def fs = ledger.fs
    import ledger.genPath

    /** Committed generations, ascending; a committed compaction supersedes
      * everything below it (see [[graft.meta.GenLedger.committedGens]]).
      */
    def committedGens(): Seq[Int] = ledger.committedGens()

    /** Committed TOMBSTONE generations, ascending. */
    def deleteGens(): Seq[Int] = ledger.deleteGens()

    /** Keys of every idempotent mutation already committed — stored as the
      * commit markers' contents, published atomically with the commit
      * itself (see [[graft.meta.GenLedger]]); [[compact]] folds keys into
      * its own marker so dedup survives compaction.
      */
    def appliedKeys(): Set[String] = ledger.appliedKeys()

    /** Deployment observability (r13 verdict item 6) — the compaction-policy
      * numbers: generation/tombstone counts, whether probes currently pay
      * the mask join, live file census, idempotency-ledger size, and the
      * one-epoch reader-grace census (`retainedGens`/`retainedBytes`).
      */
    def stats(): graft.meta.GenLedger.StoreStats = ledger.stats()

    /** Immediately reclaim generations superseded by the newest fold,
      * bypassing the one-epoch reader grace — see
      * [[IncrementalDedup.SignatureStore.vacuum]]. Returns the count.
      */
    def vacuum(): Int = ledger.withWriterLock { ledger.vacuum() }

    /** Threshold-triggered [[compact]] over [[stats]] — the shared policy,
      * [[graft.meta.GenLedger.compactIfNeeded]]. Returns whether a fold ran.
      */
    def compactIfNeeded(maxGens: Int = 16, maxFiles: Long = 4096,
        keyRetention: Int = 128): Boolean =
      ledger.compactIfNeeded(maxGens, maxFiles)(compact(keyRetention))

    /** Assign ONLY the batch's vectors to cells and commit them as a new
      * generation of cell-partitioned parquet. Null vectors drop (the
      * [[IVF.assign]] contract), but a WRONG-DIMENSION vector fails the
      * append loudly: its cosine vs every centroid is NaN, so it would
      * otherwise be silently filed in cell 0 and never retrievable (probe
      * scores are NaN-filtered) — stored-but-invisible corruption. The
      * guard is one map-side `size()` per row. `crashBeforeCommit` for
      * tests.
      */
    def append(embs: DataFrame, vecCol: String = "embedding", idCol: String = "vec_id",
        crashBeforeCommit: Boolean = false,
        idempotencyKey: Option[String] = None): Unit = ledger.withWriterLock {
      if (!ledger.alreadyApplied(idempotencyKey))
        appendLocked(embs, vecCol, idCol, crashBeforeCommit, idempotencyKey.toSeq)
    }

    /** Append CARRYING another ledger's idempotency keys — the swap path's
      * key-preservation primitive ([[retrainAndSwap]]): the bulk load and
      * each drained generation record the keys the OUTGOING version had
      * applied, so a micro-batch committed there and replayed against the
      * new version after the swap still no-ops. No applied-check here: the
      * carried keys are disjoint from the new store's by construction (the
      * drain's seen-set), and checking a multi-key set has no single
      * replay semantics.
      */
    private[graft] def appendCarrying(embs: DataFrame, keys: Iterable[String]): Unit =
      ledger.withWriterLock {
        appendLocked(embs, "embedding", "vec_id", crashBeforeCommit = false, keys)
      }

    /** Tombstone twin of [[appendCarrying]]. */
    private[graft] def deleteCarrying(ids: DataFrame, keys: Iterable[String]): Unit =
      ledger.withWriterLock {
        deleteLocked(ids, "vec_id", crashBeforeCommit = false, keys)
      }

    private def appendLocked(embs: DataFrame, vecCol: String, idCol: String,
        crashBeforeCommit: Boolean, idempotencyKeys: Iterable[String]): Unit = {
      val prior = committedGens()
      val gen = if (prior.isEmpty) 0 else prior.max + 1
      val guarded = embs.withColumn(vecCol,
        when(col(vecCol).isNotNull && size(col(vecCol)) =!= lit(index.dim),
          raise_error(concat(
            lit(s"IVF store at $root holds dim=${index.dim} vectors; batch row has dim="),
            size(col(vecCol)).cast("string"))))
          .otherwise(col(vecCol)))
      IVF.assign(guarded, index, vecCol)
        .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"), col("cell"))
        // a generation is batch-scale: a few files per cell partition
        .repartition(col("cell"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell")
        .parquet(genPath(gen, "cells"))
      // a batch with zero assignable vectors (empty micro-batch, all-null
      // embeddings) leaves a ZERO-FILE dynamic-partition dir — committing
      // it would poison every later read with schema-inference failure.
      // An empty append is a no-op: union with ∅ changes nothing (the
      // shared GenLedger empty-mutation policy; detector single-sourced)
      if (!ledger.hasDataFiles(new org.apache.hadoop.fs.Path(genPath(gen, "cells")))) {
        // NOTE: the idempotency key is deliberately NOT recorded — with no
        // generation there is nothing a replay could duplicate, and the
        // replayed empty batch lands here again as the same no-op
        fs.delete(new org.apache.hadoop.fs.Path(genPath(gen)), true)
        return
      }
      if (crashBeforeCommit) return
      ledger.commitAppend(gen, idempotencyKeys)
    }

    /** Delete vectors from the index (takedown / opt-out). Commits a
      * tombstone generation carrying only the ids — O(ids), no cell data
      * is rewritten; reads mask, [[compact]] erases.
      */
    def delete(ids: DataFrame, idCol: String = "vec_id",
        crashBeforeCommit: Boolean = false,
        idempotencyKey: Option[String] = None): Unit = ledger.withWriterLock {
      if (!ledger.alreadyApplied(idempotencyKey))
        deleteLocked(ids, idCol, crashBeforeCommit, idempotencyKey.toSeq)
    }

    private def deleteLocked(ids: DataFrame, idCol: String,
        crashBeforeCommit: Boolean, idempotencyKeys: Iterable[String]): Unit = {
      val prior = committedGens()
      require(prior.nonEmpty, s"IVF store at $root has no committed generation yet")
      val gen = prior.max + 1
      val del = ids.select(col(idCol).as("vec_id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // shared empty-mutation policy (GenLedger): an empty tombstone
        // generation would switch every later read onto the mask-join
        // path while masking nothing — no-op, no key recorded
        if (del.count() == 0L) return
        del.coalesce(1).write.mode(SaveMode.Overwrite).parquet(genPath(gen, "deletes"))
        if (crashBeforeCommit) return
        ledger.commitDelete(gen, idempotencyKeys)
      } finally del.unpersist()
    }

    /** All LIVE assignments (union of committed generation deltas minus
      * tombstones). `cell` is a partition column — filters on it prune
      * directories, including through the tombstone mask join (the filter
      * pushes below it to the scans).
      */
    def cells(): DataFrame = cellsAt(committedGens(), deleteGens())

    /** [[cells]] over an EXPLICIT generation snapshot — the swap path's
      * pinning primitive: [[retrainAndSwap]] lists the outgoing version's
      * generations exactly once and builds both the training set and the
      * bulk load from that pinned list, so a generation committing between
      * two internal listings can never be both bulk-loaded and drained by
      * the catch-up pass (= duplicated).
      */
    private[graft] def cellsAt(gens: Seq[Int], dels: Seq[Int]): DataFrame =
      // per-root reads: the cells' own `cell=` directories rule out one
      // multi-path relation, and they keep cell-partition pruning intact
      ledger.live("cells", "vec_id", gens, dels, perRoot = true)

    /** Fold all generations into one, applying tombstones for real, and
      * commit via the compaction kind marker (readers then ignore lower
      * generations, so the sweep below is lazy-safe).
      */
    def compact(keyRetention: Int = 128,
        retainKeys: String => Boolean = _ => false): Unit = ledger.withWriterLock {
      val gens = committedGens()
      if (gens.size > 1) compactLocked(gens, keyRetention, retainKeys)
    }

    private def compactLocked(gens: Seq[Int], keyRetention: Int,
        retainKeys: String => Boolean = _ => false): Unit = {
      val gen = gens.max + 1
      // survive the fold — idempotence outlives it; bounded to the newest
      // keyRetention generations' keys (GenLedger.foldedKeys — an
      // unbounded fold re-parses every micro-batch key ever, forever),
      // except keys the ingest checkpoint could still re-offer (retainKeys
      // — see IvfIngestStream.compactSafely)
      val keys = ledger.foldedKeys(keyRetention, retainKeys)
      val live = cells().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        live
          .repartition(col("cell"))
          .write.mode(SaveMode.Overwrite).partitionBy("cell")
          .parquet(genPath(gen, "cells"))
        // a store whose every vector was deleted folds to ZERO rows, and a
        // dynamic-partition write of an empty frame creates a dir with no
        // part files — committing that would poison every later read with
        // schema-inference failure (the same hazard append() guards; here
        // the fold must still commit, because its purpose is to erase the
        // tombstones). Re-write the empty frame unpartitioned: one
        // schema-bearing file, `cell` kept as a normal column, unioned
        // reads and (vacuous) pruning unaffected.
        if (live.isEmpty) {
          live.coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(genPath(gen, "cells"))
        }
        ledger.commitCompaction(gen, keys)
      } finally live.unpersist()
    }

    /** ANN top-k over the whole stored corpus: probe the `nprobe` cells
      * nearest the query (defaulting to the store's persisted
      * `defaultNprobe`) — the scan reads ONLY those cell partitions
      * (pruned, never the full corpus) — then exact-rank inside them.
      * Equal to [[IVF.topK]] over the union of all appended batches minus
      * deleted ids.
      */
    def topK(query: Seq[Float], k: Int, nprobe: Int = defaultNprobe): DataFrame =
      topKOver(cells(), query, k, nprobe)

    private def topKOver(cellRows: DataFrame, query: Seq[Float], k: Int,
        nprobe: Int): DataFrame = {
      val probeCells = index.centroids.zipWithIndex
        .map { case (ctr, i) =>
          i -> graft.functions.CosineSimilarity.compute(query.toArray, ctr.toArray)
        }
        .sortBy { case (i, s) => (-s, i) }
        .take(nprobe).map(_._1)
      cellRows
        .filter(col("cell").isin(probeCells: _*)) // partition pruning
        .select(col("vec_id"),
          graft.functions.VectorFunctions.cosine(col("embedding"), typedLit(query)).as("score"))
        .filter(!isnan(col("score")))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
    }

    /** A consistent probe view pinned to the generations committed when
      * [[snapshot]] was called — a batch of queries ranks against ONE
      * corpus even while ingest keeps committing (the dedup twin's
      * [[IncrementalDedup.SignatureStore.Snapshot]], for ANN). Valid for
      * one compaction epoch, by the same reader-grace contract.
      */
    final class Snapshot private[Store] (
        val generations: Seq[Int], val tombstoneGens: Seq[Int]) {

      /** The snapshot's live (vec_id, cell, embedding) assignment rows. */
      def cells(): DataFrame = cellsAt(generations, tombstoneGens)

      /** ANN top-k over the snapshot's corpus — [[Store.topK]] evaluated
        * at snapshot time, whatever has committed since.
        */
      def topK(query: Seq[Float], k: Int, nprobe: Int = defaultNprobe): DataFrame =
        topKOver(cells(), query, k, nprobe)
    }

    /** Pin the current committed state for consistent multi-probe reads —
      * see [[Snapshot]]. Driver-side listing only; readers never block
      * writers.
      */
    def snapshot(): Snapshot = {
      val gens = committedGens()
      require(gens.nonEmpty, s"IVF store at $root has no committed generation yet")
      new Snapshot(gens, deleteGens())
    }
  }
}
