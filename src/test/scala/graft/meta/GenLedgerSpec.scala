package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Dedup, IVF, IVFStore, IncrementalDedup}

/** The generation-ledger contracts that r14 promoted from scaladoc to
  * enforcement: the exclusive writer lease (second writer fails loudly,
  * crashed writer's stale lock is reclaimed, lock always released), the
  * shared empty-mutation no-op policy on BOTH stores, the idempotency-key
  * retention horizon at compaction, the stats() observability snapshot,
  * and the shared read path's generation tags.
  */
class GenLedgerSpec extends SparkSpec {

  import spark.implicits._

  private def tempRoot(): String =
    Files.createTempDirectory("graft-ledgerspec-").toString

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
  private def slice(m: Int, r: Int) = docs.filter(pmod(col("doc_id"), lit(m)) === r)

  private def lockPath(root: String) = new java.io.File(root, "_lock")

  private def holdForeignLock(root: String, ageMs: Long = 0L): Unit = {
    val f = lockPath(root)
    Files.write(f.toPath, "other-host pid=99999 ledger=test-foreign".getBytes("UTF-8"))
    assert(f.setLastModified(System.currentTimeMillis() - ageMs))
  }

  // ---- writer lease --------------------------------------------------------

  test("a second live writer is refused loudly, naming the holder") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(7, 1))
    holdForeignLock(root) // fresh heartbeat: a LIVE concurrent writer
    val e = intercept[GenLedger.ConcurrentWriterException] { st.append(slice(7, 2)) }
    assert(e.getMessage.contains("other-host pid=99999"))
    assert(e.getMessage.contains("single-writer"))
    // the refused mutation committed nothing
    assert(st.committedGens() === Seq(0))
    lockPath(root).delete()
  }

  test("a crashed writer's stale lock is reclaimed and the mutation proceeds") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(7, 1))
    // heartbeat stopped 2 s ago; with a 1 s staleness window the holder is dead
    holdForeignLock(root, ageMs = 2000L)
    spark.conf.set("spark.graft.store.lockStaleMs", "1000")
    try st.append(slice(7, 2))
    finally spark.conf.unset("spark.graft.store.lockStaleMs")
    assert(st.committedGens() === Seq(0, 1))
    assert(!lockPath(root).exists(), "reclaimed lock must be released after the mutation")
  }

  test("the lease is released after every mutation kind (append/delete/compact)") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(3, 0)); assert(!lockPath(root).exists())
    st.append(slice(3, 1)); assert(!lockPath(root).exists())
    st.delete(slice(9, 1).select("doc_id")); assert(!lockPath(root).exists())
    st.compact(); assert(!lockPath(root).exists())
  }

  test("the lease is released when the mutation FAILS (config mismatch)") {
    val root = tempRoot()
    IncrementalDedup.store(spark, root).append(slice(7, 1))
    val wrongCfg = IncrementalDedup.store(spark, root, IncrementalDedup.Config(k = 32))
    intercept[IllegalArgumentException] { wrongCfg.append(slice(7, 2)) }
    assert(!lockPath(root).exists(), "a failed mutation must not leave the store locked")
    // and the store remains writable by a correctly-configured writer
    IncrementalDedup.store(spark, root).append(slice(7, 2))
  }

  test("the IVF store enforces the same lease") {
    val root = tempRoot()
    val e = graft.QueryCatalog.embs(spark, sf())
    val st = IVFStore.create(spark, root, IVF.train(e, c = 4, iters = 0))
    st.append(e)
    holdForeignLock(root)
    intercept[GenLedger.ConcurrentWriterException] {
      st.delete(e.filter(col("vec_id") === 5).select("vec_id"))
    }
    assert(st.deleteGens().isEmpty)
    lockPath(root).delete()
    st.delete(e.filter(col("vec_id") === 5).select("vec_id"))
    assert(st.deleteGens().size === 1)
  }

  test("commit is FENCED: a poached lease aborts the publish, leaving nothing visible") {
    // The lock-without-fence hole (r14 verdict): a writer whose heartbeats
    // stall past staleMs is reclaimed mid-mutation; without a commit-time
    // ownership check its in-flight publish still lands, racing the new
    // holder's generation number. Simulate the poach's end state (the lock
    // re-created under a different holder) while our mutation is in flight
    // and prove every commit kind refuses BEFORE anything becomes visible.
    val root = tempRoot()
    val ledger = new GenLedger(spark, root)
    ledger.withWriterLock {
      holdForeignLock(root) // the poacher's lock, fresh heartbeat
      val e = intercept[GenLedger.ConcurrentWriterException] {
        ledger.commitAppend(0, None)
      }
      assert(e.getMessage.contains("lease lost"))
      assert(ledger.committedGens().isEmpty, "a fenced commit must publish nothing")
      intercept[GenLedger.ConcurrentWriterException] { ledger.commitDelete(0, None) }
      assert(!new java.io.File(root, "_tombstones/gen=0").exists(),
        "the fence must fire before the tombstone kind marker, not just the publish")
      intercept[GenLedger.ConcurrentWriterException] { ledger.commitCompaction(0, Nil) }
      assert(!new java.io.File(root, "_compactions/gen=0").exists())
    }
    // and the release path must not delete the poacher's lease
    assert(lockPath(root).exists(), "release must only delete OUR lock")
    lockPath(root).delete()
  }

  test("a sealed root refuses mutations loudly but still reads") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(7, 1))
    new GenLedger(spark, root).seal("retired by test — re-open the new version")
    val e = intercept[GenLedger.ConcurrentWriterException] { st.append(slice(7, 2)) }
    assert(e.getMessage.contains("sealed") && e.getMessage.contains("retired by test"))
    assert(st.committedGens() === Seq(0))
    assert(!lockPath(root).exists(), "a seal-refused mutation must release the lease")
    assert(st.sigs().count() > 0, "sealing blocks writers, never readers")
  }

  // ---- empty-mutation policy (shared across stores) ------------------------

  test("empty append commits no generation and records no key (dedup store)") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(7, 1))
    st.append(docs.filter(lit(false)), idempotencyKey = Some("empty-batch"))
    assert(st.committedGens() === Seq(0), "empty append must be a no-op generation-wise")
    assert(!st.appliedKeys().contains("empty-batch"),
      "an empty mutation records no key — the replayed empty batch no-ops again anyway")
  }

  test("empty delete commits no tombstone — reads stay on the join-free path (both stores)") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(7, 1))
    st.delete(docs.filter(lit(false)).select("doc_id"))
    assert(st.deleteGens().isEmpty, "an empty tombstone would mask-join every read for nothing")
    assert(!st.stats().maskJoinActive)

    val e = graft.QueryCatalog.embs(spark, sf())
    val ivfRoot = tempRoot()
    val ivf = IVFStore.create(spark, ivfRoot, IVF.train(e, c = 4, iters = 0))
    ivf.append(e)
    ivf.delete(e.filter(lit(false)).select("vec_id"))
    assert(ivf.deleteGens().isEmpty)
    assert(!ivf.stats().maskJoinActive)
  }

  // ---- idempotency-key retention at compaction ------------------------------

  test("compaction folds only the newest keyRetention generations' keys") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    (0 to 5).foreach(i => st.append(slice(6, i), idempotencyKey = Some(s"k$i")))
    assert(st.appliedKeys() === (0 to 5).map(i => s"k$i").toSet)
    st.compact(keyRetention = 3)
    assert(st.appliedKeys() === Set("k3", "k4", "k5"),
      "keys beyond the horizon expire at the fold — the marker must not accrete forever")
    // a replay from inside the retention window still no-ops
    val before = st.committedGens()
    st.append(slice(6, 4), idempotencyKey = Some("k4"))
    assert(st.committedGens() === before)
  }

  // ---- compaction policy ----------------------------------------------------

  test("compactIfNeeded folds exactly when a threshold trips, on both stores") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(5, 0)); st.append(slice(5, 1))
    assert(!st.compactIfNeeded(maxGens = 2), "2 gens <= maxGens — no fold")
    assert(st.stats().generations === 2)
    st.append(slice(5, 2))
    assert(st.compactIfNeeded(maxGens = 2), "3 gens > maxGens — fold")
    assert(st.stats().generations === 1)
    assert(!st.compactIfNeeded(maxGens = 1, maxFiles = 1),
      "a single generation has nothing to fold, however far over threshold")
    st.append(slice(5, 3))
    assert(st.compactIfNeeded(maxGens = 100, maxFiles = 1), "file census over maxFiles — fold")
    assert(st.stats().generations === 1)

    val e = graft.QueryCatalog.embs(spark, sf())
    val ivf = graft.ops.IVFStore.create(spark, tempRoot(),
      graft.ops.IVF.train(e, c = 4, iters = 0))
    ivf.append(e.filter(col("vec_id") < 200))
    ivf.append(e.filter(col("vec_id") >= 200))
    assert(!ivf.compactIfNeeded(maxGens = 4))
    assert(ivf.compactIfNeeded(maxGens = 1))
    assert(ivf.stats().generations === 1)
  }

  // ---- stats() observability -------------------------------------------------

  test("stats() tracks generations, tombstones, mask join, files, and keys across a fold") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(3, 0), idempotencyKey = Some("b0"))
    st.append(slice(3, 1), idempotencyKey = Some("b1"))
    st.delete(slice(9, 1).select("doc_id"))
    val s1 = st.stats()
    assert(s1.generations === 3 && s1.tombstoneGens === 1 && s1.maskJoinActive)
    assert(s1.dataFiles > 0 && s1.dataBytes > 0 && s1.appliedKeys === 2)
    st.compact()
    val s2 = st.stats()
    assert(s2.generations === 1 && s2.tombstoneGens === 0 && !s2.maskJoinActive)
    assert(s2.appliedKeys === 2, "keys survive the fold (within retention)")
    assert(s2.dataFiles > 0 && s2.dataFiles <= s1.dataFiles + 8,
      s"post-compact census must not exceed the pre-fold ledger (${s1.dataFiles} -> ${s2.dataFiles})")
  }

  // ---- read path --------------------------------------------------------------

  test("a root whose own path spells gen= and v= reads like a plain root, with or without partition type inference") {
    // gens 0-8 append id % 9 == g; gen 9 deletes part of gen 1; gen 10
    // deletes all of gen 2 plus ids gen 9 already deleted; gen 11
    // re-appends half of gen 2. Tombstones at gen >= 10 pin the int tag:
    // as strings "2" > "10" (gen 2 rows escape the mask) and
    // max("9", "10") = "9"
    def mutations(id: org.apache.spark.sql.Column) = (
      pmod(id, lit(9)) === 1 && pmod(id, lit(2)) === 0,
      pmod(id, lit(9)) === 2 || (pmod(id, lit(9)) === 1 && pmod(id, lit(4)) === 0),
      pmod(id, lit(9)) === 2 && pmod(id, lit(2)) === 0)
    def dedupRun(root: String) = {
      val st = IncrementalDedup.store(spark, root)
      val (d9, d10, r11) = mutations(col("doc_id"))
      (0 until 9).foreach(g => st.append(slice(9, g)))
      st.delete(docs.filter(d9).select("doc_id"))
      st.delete(docs.filter(d10).select("doc_id"))
      st.append(docs.filter(r11))
      assert(st.committedGens() === (0 to 11) && st.deleteGens() === Seq(9, 10))
      (st.sigs().select("doc_id").collect().map(_.getLong(0)).toSet,
        st.candidates(0.25).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    }
    def ivfRun(root: String) = {
      val e = graft.QueryCatalog.embs(spark, sf())
      val st = IVFStore.create(spark, root, IVF.train(e, c = 4, iters = 0))
      val (d9, d10, r11) = mutations(col("vec_id"))
      (0 until 9).foreach(g => st.append(e.filter(pmod(col("vec_id"), lit(9)) === g)))
      st.delete(e.filter(d9).select("vec_id"))
      st.delete(e.filter(d10).select("vec_id"))
      st.append(e.filter(r11))
      assert(st.committedGens() === (0 to 11) && st.deleteGens() === Seq(9, 10))
      // `cell` is a discovered partition column too: a string when
      // inference is off, so compare it as one
      st.cells().collect().map(r => (r.getLong(0), String.valueOf(r.getAs[Any]("cell")))).toSet
    }
    val (d9, d10, r11) = mutations(col("doc_id"))
    val survivors = docs.filter((!d9 && !d10) || r11)
    val expected = Dedup.minhashCandidates(survivors, minEstJaccard = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inference = "spark.sql.sources.partitionColumnTypeInference.enabled"
    Seq(true, false).foreach { infer =>
      if (!infer) spark.conf.set(inference, "false")
      try {
        val (sigIds, cands) = dedupRun(tempRoot())
        assert(dedupRun(s"${tempRoot()}/gen=7/v=1/store") === ((sigIds, cands)), s"inference=$infer")
        assert(!sigIds.exists(d => d % 9 == 2 && d % 2 == 1), "gen 2 rows are masked by gen 10")
        assert(sigIds.exists(d => d % 9 == 2), "gen 11 resurrects half of gen 2")
        assert(cands === expected, "candidates == full recompute over the survivors")

        val cells = ivfRun(tempRoot())
        assert(ivfRun(s"${tempRoot()}/gen=7/v=1/store") === cells, s"inference=$infer")
        assert(!cells.exists { case (v, _) => v % 9 == 2 && v % 2 == 1 } &&
          cells.exists { case (v, _) => v % 9 == 2 })
      } finally spark.conf.unset(inference)
    }
  }
}
