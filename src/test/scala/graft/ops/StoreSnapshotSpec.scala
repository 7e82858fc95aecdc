package graft.ops

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Snapshot-isolated reads on both persisted stores (r15): [[snapshot]]
  * pins the committed (generations, tombstones) pair, so a multi-query
  * analysis resolves every read against ONE corpus while ingest keeps
  * committing. Validity is one compaction epoch — the reader-grace
  * contract — and the boundary fails loudly, never silently. Also pins the
  * plan shape of the masked reads snapshots and live views share.
  */
class StoreSnapshotSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def tempRoot(): String =
    Files.createTempDirectory("graft-snapspec-").toString

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
  private def slice(m: Int, r: Int) = docs.filter(pmod(col("doc_id"), lit(m)) === r)

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("a dedup snapshot is blind to appends and takedowns committed after it") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(5, 1)); st.append(slice(5, 2))
    val snap = st.snapshot()
    val sigsBefore = ids(snap.sigs())
    val candBefore = snap.candidates(0.25).count()

    st.append(slice(5, 3))                             // post-snapshot append
    st.delete(slice(10, 1).select("doc_id"))           // post-snapshot takedown

    assert(ids(snap.sigs()) === sigsBefore,
      "the snapshot must keep reading exactly its pinned corpus")
    assert(snap.candidates(0.25).count() === candBefore)
    assert(snap.generations.size === 2 && snap.tombstoneGens.isEmpty)
    // while the LIVE view moved on: the new batch is in, the takedown out
    val live = ids(st.sigs())
    assert(live !== sigsBefore)
    assert(live.exists(_ % 5 == 3), "live sees the post-snapshot append")
    assert(!live.exists(_ % 10 == 1), "live sees the takedown")
  }

  test("a snapshot survives ONE fold (reader grace) and fails loudly past it") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(5, 1)); st.append(slice(5, 2))
    val snap = st.snapshot()
    val expected = snap.sigs().count()
    st.compact() // fold 1: snapshot's generations retained by the grace
    assert(snap.sigs().count() === expected,
      "one fold later the snapshot still reads its exact corpus")
    st.append(slice(5, 3))
    st.compact() // fold 2 sweeps fold 1's superseded epoch
    assert(Try(snap.sigs().count()).isFailure,
      "two folds later the snapshot is past the grace window — loud, not wrong")
  }

  test("an IVF snapshot pins probes against one corpus") {
    val root = tempRoot()
    val e = graft.QueryCatalog.embs(spark, sf())
    val st = IVFStore.create(spark, root, IVF.train(e, c = 4, iters = 0))
    st.append(e.filter(col("vec_id") % 3 === 0))
    st.append(e.filter(col("vec_id") % 3 === 1))
    val snap = st.snapshot()
    val q = e.select("embedding").head.getSeq[Float](0)
    val before = snap.topK(q, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cellsBefore = snap.cells().count()

    st.append(e.filter(col("vec_id") % 3 === 2))
    st.delete(e.filter(col("vec_id") % 6 === 0).select("vec_id"))

    assert(snap.cells().count() === cellsBefore, "pinned corpus, not the live one")
    val after = snap.topK(q, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after === before, "a probe batch ranks against one consistent corpus")
    assert(st.cells().count() !== cellsBefore, "while the live view moved on")
  }

  /** Runs `df`, then checks its executed plan: no per-row generation tag
    * off the file path, and every scan of a plain part (`parts`) carries
    * `gen` as a discovered partition column. Returns the plan's scans.
    */
  private def assertDiscoveredGen(df: DataFrame, parts: String*): Seq[FileSourceScanExec] = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    assert(!text.contains("input_file_name") && !text.contains("regexp_extract_all"), text)
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    parts.foreach { part =>
      val partScans = scans.filter(_.relation.location.rootPaths.exists(_.getName == part))
      assert(partScans.nonEmpty, s"no scan of $part in\n$plan")
      partScans.foreach(s =>
        assert(s.relation.partitionSchema.fieldNames.contains("gen"), s"$part scan: $s"))
    }
    scans
  }

  /** Column names and types of `df`. */
  private def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  test("masked dedup reads tag generations by partition discovery (plain layout)") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root)
    st.append(slice(5, 1)); st.append(slice(5, 2))
    st.delete(slice(10, 1).select("doc_id"))
    assertDiscoveredGen(st.sigs(), "sigs", "deletes")
    assertDiscoveredGen(st.snapshot().sigs(), "sigs", "deletes")
    assertDiscoveredGen(st.pairs(), "touched", "pairs")
    // the public reads return exactly a generation part's own columns
    assert(fields(st.sigs()) === fields(spark.read.parquet(s"$root/gen=0/sigs")))
    assert(fields(st.pairs()) === fields(spark.read.parquet(s"$root/gen=0/pairs")))
  }

  test("masked IVF reads tag tombstones by partition discovery; cells stay per-root") {
    val e = graft.QueryCatalog.embs(spark, sf())
    val root = tempRoot()
    val st = IVFStore.create(spark, root, IVF.train(e, c = 4, iters = 0))
    st.append(e.filter(col("vec_id") % 2 === 0)); st.append(e.filter(col("vec_id") % 2 === 1))
    st.delete(e.filter(col("vec_id") % 6 === 0).select("vec_id"))
    val scans = assertDiscoveredGen(st.cells(), "deletes")
    val cellScans = scans.filter(_.relation.location.rootPaths.exists(_.getName == "cells"))
    assert(cellScans.size === 2 &&
      cellScans.forall(_.relation.partitionSchema.fieldNames.toSeq == Seq("cell")))
    assert(fields(st.cells()) === fields(spark.read.parquet(s"$root/gen=0/cells")))
  }
}
