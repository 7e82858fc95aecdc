package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{TextQueries, VectorQueries}
import graft.catalog.CatalogInputs._
import graft.ops.{IVF, IVFStore, IncrementalDedup}

/** The persisted-store family: incremental dedup against a signature store
  * ([[graft.ops.IncrementalDedup]]) and the incremental IVF index
  * ([[graft.ops.IVFStore]]) — appends, tombstone generations, the bucketed
  * band layout, batch-scoped and snapshot reads, streaming ingest, and the
  * IVF retrain-and-swap.
  *
  * Oracle design: the stores' contract is EXACT equivalence with the full
  * recompute, so each entry's DuckDB oracle is the existing full-recompute
  * SQL ([[TextQueries.minhashCandidatesSql]], the verified-pairs CTEs,
  * [[VectorQueries.knnIvfSql]]) over the documents or embeddings the store
  * should hold. The gate thereby pins the incremental machinery (generation
  * deltas, touched-bucket recompute, latest-wins supersession) against an
  * independent engine that never sees the store at all; layout, versioning
  * and read scoping must be invisible to results.
  *
  * Every entry builds its store under [[withTempStore]]. The batch entries
  * are [[QueryCatalog.storeBuildNames]]; the two `*_stream` ones are in
  * [[QueryCatalog.streamingNames]].
  */
object QueryCatalogStores {

  /** Build a store under a fresh temp directory, materialize the result
    * frame (persist + count — the returned frame is the one persisted
    * handle, per the [[ops.Dedup.materializeAndRelease]] contract), then
    * remove the store files. Materializing first is what makes the delete
    * safe: the downstream consumer (Verify's parquet write, Bench's count)
    * reads the MEMORY_AND_DISK cache, never the deleted parquet. A real
    * pipeline keeps the store, of course — the temp lifecycle exists only
    * because catalog entries must be self-contained per invocation.
    */
  private def withTempStore(f: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-store-")
    def deleteRec(): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val out = f(dir.toString)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try out.count()
    catch { case e: Throwable => try out.unpersist() finally deleteRec(); throw e }
    deleteRec()
    out
  }

  val entries: Seq[CatalogEntry] = Seq(

    // Base load (doc_id % 7 != 0) + one incremental batch (% 7 == 0):
    // gen=0 sketches the base and emits its pairs; gen=1 sketches ONLY the
    // batch, recomputes pairs for the buckets it touches, and supersedes
    // those buckets' gen=0 pairs (latest-wins). The oracle is the full
    // recompute over ALL documents — equivalence, not shape, is the gate.
    CatalogEntry("dedup_incremental",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root)
        st.append(dd.filter(pmod(col("doc_id"), lit(7)) =!= 0))
        st.append(dd.filter(pmod(col("doc_id"), lit(7)) === 0))
        st.candidates(minEstJaccard = 0.25)
      },
      Some(TextQueries.minhashCandidatesSql)),

    // Three sequential appends (doc_id % 3 = 0 / 1 / 2) — multi-generation
    // supersession: a bucket touched by gens 0 and 2 must resolve to gen
    // 2's pairs; one touched by all three to gen 2's; cap transitions may
    // happen at either step. Same full-recompute oracle.
    CatalogEntry("dedup_incremental_multi",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root)
        (0 to 2).foreach(r => st.append(dd.filter(pmod(col("doc_id"), lit(3)) === r)))
        st.candidates(minEstJaccard = 0.25)
      },
      Some(TextQueries.minhashCandidatesSql)),

    // Incremental VERIFIED pairs: the store persists gram-hash sets
    // alongside signatures (withGrams), so the exact-Jaccard verify runs
    // entirely from the store — no document text is re-read for either
    // side of a new-vs-old pair. Oracle = the deterministic replayable
    // verified-pairs SQL (dedup_minhash_verified's), over all documents.
    CatalogEntry("dedup_incremental_verified",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root,
          IncrementalDedup.Config(withGrams = true))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) === 0))
        st.verifiedPairs(threshold = 0.31, minMatches = 10)
      },
      Some(s"""WITH ${TextQueries.verifiedPairsCtes}
        |SELECT doc_a, doc_b, shared / (na + nb - shared) AS jaccard
        |FROM vj WHERE shared / (na + nb - shared) >= 3.1e-1""".stripMargin)),

    // End-to-end incremental corpus dedup: the store's verified pairs
    // (new-vs-old + new-vs-new, grams from the store) feed the SAME
    // connected-components → min-id-survivor machinery as dedup_corpus,
    // and the oracle is dedup_corpus's SQL verbatim — by the equivalence
    // contract the incremental pair set IS the full-recompute pair set.
    CatalogEntry("dedup_incremental_corpus",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root,
          IncrementalDedup.Config(withGrams = true))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) === 0))
        val pairs = st.verifiedPairs(threshold = 0.31, minMatches = 10)
        ops.Dedup.dedupCorpus(dd, pairs).select(col("doc_id"), col("lang"), col("source"))
      },
      Some(TextQueries.dedupCorpusSql)),

    // Deletion (takedown / opt-out): base + batch appended, then every
    // doc_id ≡ 3 (mod 7) deleted — a TOMBSTONE generation that masks the
    // docs' sketches and recomputes their buckets from the surviving
    // membership (including buckets falling back under the maxBucket cap).
    // Oracle: the full-recompute SQL over `documents WHERE doc_id % 7 <> 3`
    // — equivalence with a from-scratch run on the survivors.
    CatalogEntry("dedup_incremental_delete",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root)
        st.append(dd.filter(pmod(col("doc_id"), lit(7)) =!= 0))
        st.append(dd.filter(pmod(col("doc_id"), lit(7)) === 0))
        st.delete(dd.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"))
        st.candidates(minEstJaccard = 0.25)
      },
      Some(TextQueries.minhashCandidatesSqlOver("doc_id % 7 <> 3"))),

    // Takedown TRAFFIC, not a takedown: two interleaved tombstone
    // generations followed by a resurrect append (latest event wins), no
    // compact — every read pays the latest-event-wins mask join across
    // the whole ledger, the shape tools/TombstoneStress drives at volume
    // (the stress tool runs FIVE tombstone gens at 44% deleted; this
    // entry keeps the bench-resident version to the minimal multi-gen
    // shape). Dead = deleted by either slice AND not re-appended.
    // Oracle: the full-recompute SQL over exactly the survivors.
    CatalogEntry("dedup_incremental_takedowns",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root)
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) === 0))
        st.delete(dd.filter(pmod(col("doc_id"), lit(9)) === 1).select("doc_id"))
        st.delete(dd.filter(pmod(col("doc_id"), lit(11)) === 7).select("doc_id"))
        st.append(dd.filter(
          pmod(col("doc_id"), lit(9)) === 1 && pmod(col("doc_id"), lit(2)) === 0))
        st.candidates(minEstJaccard = 0.25)
      },
      Some(TextQueries.minhashCandidatesSqlOver(
        "NOT ((doc_id % 9 = 1 OR doc_id % 11 = 7)" +
          " AND NOT (doc_id % 9 = 1 AND doc_id % 2 = 0))"))),

    // The production ingest wiring: a Structured Streaming file-drop
    // query (one micro-batch per inbox file) appends each batch into the
    // persisted signature store via foreachBatch, keyed by micro-batch id
    // for exactly-once under restart (streaming.DedupIngestStream). The
    // oracle is the full-recompute SQL over all documents — the stream,
    // the store ledger, and the touched-bucket reconciliation must
    // compose to exact batch-equivalence.
    CatalogEntry("dedup_incremental_stream",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val inbox = s"$root/inbox"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
        (0 to 2).foreach { i =>
          val tmp = s"$root/slice$i"
          dd.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = java.nio.file.Paths.get(inbox, f"f$i%04d.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          // deterministic backlog order (ROUNDLOG r13 lesson 2)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
        }
        streaming.DedupIngestStream.runOnce(s, inbox, dd.schema,
          s"$root/store", s"$root/ckpt")
        IncrementalDedup.store(s, s"$root/store").candidates(minEstJaccard = 0.25)
      },
      Some(TextQueries.minhashCandidatesSql)),

    // Persisted IVF index + incremental append (ops.IVFStore): index
    // trained once on the BASE (frozen centroids), the batch — the
    // HIGHEST vec_ids, i.e. the new arrivals — assigned incrementally
    // without touching stored cells; the probe reads only the nprobe
    // pruned cell partitions. The 80/20 id split keeps the first-16-by-id
    // centroid init identical between base-trained and corpus-trained, so
    // the oracle is knn_ivf's SQL verbatim (exact equivalence with the
    // one-shot full-corpus assignment).
    CatalogEntry("knn_ivf_incremental",
      (s, d) => withTempStore { root =>
        val e = embs(s, d)
        val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
        val t = (maxId + 1L) * 4L / 5L
        val index = IncrementalAnnIndex.trainBase(e, t)
        val st = IVFStore.create(s, root, index)
        st.append(e.filter(col("vec_id") < t))
        st.append(e.filter(col("vec_id") >= t))
        st.topK(queryVec(s, d), k = 20, nprobe = 4)
          .withColumn("score", round(col("score"), 9))
      },
      Some(VectorQueries.knnIvfSql)),

    // IVF takedown: after both appends, every vec_id ≡ 7 (mod 10) at or
    // above 16 is deleted — a tombstone generation that masks the vectors
    // at read time without rewriting any cell partition (and without
    // disturbing the first-16-by-id centroid init, so the frozen store
    // centroids still match the oracle's). Oracle: knn_ivf's SQL over the
    // SURVIVING embeddings — equivalence with a from-scratch index build.
    CatalogEntry("knn_ivf_incremental_delete",
      (s, d) => withTempStore { root =>
        val e = embs(s, d)
        val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
        val t = (maxId + 1L) * 4L / 5L
        val index = IncrementalAnnIndex.trainBase(e, t)
        val st = IVFStore.create(s, root, index)
        st.append(e.filter(col("vec_id") < t))
        st.append(e.filter(col("vec_id") >= t))
        st.delete(e.filter(pmod(col("vec_id"), lit(10)) === 7 && col("vec_id") >= 16)
          .select("vec_id"))
        st.topK(queryVec(s, d), k = 20, nprobe = 4)
          .withColumn("score", round(col("score"), 9))
      },
      Some(VectorQueries.knnIvfSqlOver("NOT (vec_id % 10 = 7 AND vec_id >= 16)"))),

    // The ANN takedown-traffic twin: two tombstone generations then a
    // resurrect append, no compact — the probe must mask with
    // latest-event-wins across the ledger while keeping its cell
    // partition pruning below the mask join. Delete slices avoid
    // vec_id < 16 so the frozen first-16-by-id centroid init equals the
    // oracle's survivor-derived init. Oracle: knn_ivf's SQL over the
    // survivors (dead = deleted by either slice and not re-appended).
    CatalogEntry("knn_ivf_incremental_takedowns",
      (s, d) => withTempStore { root =>
        val e = embs(s, d)
        val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
        val t = (maxId + 1L) * 4L / 5L
        val index = IncrementalAnnIndex.trainBase(e, t)
        val st = IVFStore.create(s, root, index)
        st.append(e.filter(col("vec_id") < t))
        st.append(e.filter(col("vec_id") >= t))
        def slice(m: Int, r: Int) =
          pmod(col("vec_id"), lit(m)) === r && col("vec_id") >= 16
        st.delete(e.filter(slice(9, 2)).select("vec_id"))
        st.delete(e.filter(slice(10, 7)).select("vec_id"))
        st.append(e.filter(slice(9, 2) && pmod(col("vec_id"), lit(2)) === 0))
        st.topK(queryVec(s, d), k = 20, nprobe = 4)
          .withColumn("score", round(col("score"), 9))
      },
      Some(VectorQueries.knnIvfSqlOver(
        "NOT (vec_id >= 16 AND (vec_id % 9 = 2 OR vec_id % 10 = 7)" +
          " AND NOT (vec_id % 9 = 2 AND vec_id % 2 = 0))"))),

    // The ANN twin of dedup_incremental_stream: embeddings stream into a
    // pre-created IVF store (offline-trained frozen centroids — the
    // standard deployment split: training is a batch job, ingest a
    // stream) one micro-batch per inbox file, keyed by micro-batch id
    // for exactly-once under restart (streaming.IvfIngestStream). Cell
    // assignment is a pure per-vector function of the frozen centroids,
    // so stream-order ingest equals the one-shot full-corpus assignment
    // and the oracle is knn_ivf's SQL verbatim (training on the FULL
    // corpus here, exactly as knn_ivf does — unlike knn_ivf_incremental,
    // whose base-split training needed the 80/20 id trick).
    CatalogEntry("knn_ivf_incremental_stream",
      (s, d) => withTempStore { root =>
        val e = embs(s, d)
        val index = IVF.train(e, c = 16, iters = 0)
        IVFStore.create(s, s"$root/store", index, defaultNprobe = 4)
        val inbox = s"$root/inbox"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
        (0 to 2).foreach { i =>
          val tmp = s"$root/slice$i"
          e.filter(pmod(col("vec_id"), lit(3)) === i).coalesce(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = java.nio.file.Paths.get(inbox, f"f$i%04d.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          // deterministic backlog order (ROUNDLOG r13 lesson 2)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
        }
        streaming.IvfIngestStream.runOnce(s, inbox, e.schema,
          s"$root/store", s"$root/ckpt")
        IVFStore.open(s, s"$root/store")
          .topK(queryVec(s, d), k = 20)
          .withColumn("score", round(col("score"), 9))
      },
      Some(VectorQueries.knnIvfSql)),

    // dedup_incremental's shape on the BUCKETED band layout (bandBuckets=8
    // — bands live under bkt= hash-partition dirs, and each append's
    // touched-bucket read partition-prunes to the batch's buckets instead
    // of scanning every stored band; plan pinned by BucketedBandsSpec).
    // The takedown-traffic mutation mix (append, two interleaved tombstone
    // gens, resurrect append) exercises every pruned read path. Oracle:
    // the full-recompute SQL over the survivors — layout must be invisible
    // to results, including cap transitions crossing bucket boundaries.
    CatalogEntry("dedup_incremental_bucketed",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root,
          IncrementalDedup.Config(bandBuckets = 8))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) === 0))
        st.delete(dd.filter(pmod(col("doc_id"), lit(9)) === 1).select("doc_id"))
        st.delete(dd.filter(pmod(col("doc_id"), lit(11)) === 7).select("doc_id"))
        st.append(dd.filter(
          pmod(col("doc_id"), lit(9)) === 1 && pmod(col("doc_id"), lit(2)) === 0))
        st.candidates(minEstJaccard = 0.25)
      },
      Some(TextQueries.minhashCandidatesSqlOver(
        "NOT ((doc_id % 9 = 1 OR doc_id % 11 = 7)" +
          " AND NOT (doc_id % 9 = 1 AND doc_id % 2 = 0))"))),

    // Offline retrain + atomic swap (IVFStore.retrainAndSwap): a versioned
    // store is loaded, takes a takedown, then rebuilds its centroids on
    // the SURVIVORS and swaps the version pointer. IVF.train is
    // deterministic (first-16-by-id init; iters=0 keeps it closed-form),
    // so the retrained centroids are exactly the oracle's c CTE over the
    // filtered embeddings — the swap must equal a from-scratch build on
    // the survivors, which is knn_ivf's SQL over them. The delete slice
    // (vec_id % 6 = 5) never hits vec_id 0, keeping the oracle's query
    // vector defined.
    CatalogEntry("knn_ivf_retrain_swap",
      (s, d) => withTempStore { root =>
        val e = embs(s, d)
        val st = IVFStore.createVersioned(s, root,
          IVF.train(e, c = 16, iters = 0), defaultNprobe = 4)
        st.append(e)
        st.delete(e.filter(pmod(col("vec_id"), lit(6)) === 5).select("vec_id"))
        IVFStore.retrainAndSwap(s, root, c = 16, iters = 0)
          .topK(queryVec(s, d), k = 20, nprobe = 4)
          .withColumn("score", round(col("score"), 9))
      },
      Some(VectorQueries.knnIvfSqlOver("vec_id % 6 <> 5"))),

    // Batch-scoped candidates on the bucketed layout, under a takedown so
    // the live-sig masking path is exercised too: base append (gen 0),
    // batch append (gen 1), tombstone (gen 2), then "candidates involving
    // gen 1's docs". Equals the full-recompute candidates over the
    // SURVIVORS filtered to pairs with a side in the batch — the pruned
    // read (plan-pinned by BucketedBandsSpec) must lose no involving pair.
    CatalogEntry("dedup_incremental_batch_scoped",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root,
          IncrementalDedup.Config(bandBuckets = 8))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) === 0))
        st.delete(dd.filter(pmod(col("doc_id"), lit(9)) === 1).select("doc_id"))
        st.candidatesForGen(1, minEstJaccard = 0.25)
      },
      Some(TextQueries.minhashCandidatesSqlOver("doc_id % 9 <> 1") +
        "\n  AND (doc_a % 5 = 0 OR doc_b % 5 = 0)")),

    // Snapshot-isolated reads: pin the store after two appends, then
    // MUTATE the live store (a third append and a takedown) — the
    // snapshot's candidates must equal the full recompute over exactly
    // the two pinned batches, blind to everything committed after it
    // ([[IncrementalDedup.SignatureStore.snapshot]]; one-epoch validity
    // by the compaction reader grace). The live read sees all three
    // batches minus the takedown — same store, two consistent answers.
    CatalogEntry("dedup_incremental_snapshot",
      (s, d) => withTempStore { root =>
        val dd = docs(s, d)
        val st = IncrementalDedup.store(s, root)
        st.append(dd.filter(pmod(col("doc_id"), lit(5)).isin(1, 2)))
        st.append(dd.filter(pmod(col("doc_id"), lit(5)).isin(3, 4)))
        val snap = st.snapshot()
        st.append(dd.filter(pmod(col("doc_id"), lit(5)) === 0))
        st.delete(dd.filter(pmod(col("doc_id"), lit(9)) === 2).select("doc_id"))
        snap.candidates(minEstJaccard = 0.25)
      },
      Some(TextQueries.minhashCandidatesSqlOver("doc_id % 5 <> 0"))))

  /** Tiny indirection so the entry reads declaratively: static-centroid
    * training (iters = 0 → first-16-by-id init) on the base split only.
    */
  private object IncrementalAnnIndex {
    def trainBase(e: DataFrame, t: Long): IVF.Index =
      IVF.train(e.filter(col("vec_id") < t), c = 16, iters = 0)
  }
}
