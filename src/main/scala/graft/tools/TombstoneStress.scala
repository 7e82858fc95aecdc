package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, IVF, IVFStore, IncrementalDedup}

/** Delete-heavy stress axis for the persisted stores (r13 open thread:
  * "no pseudo-scale cell runs WITH tombstones present ... a delete-heavy
  * corpus axis would stress the latest-event-wins join at volume").
  *
  * The catalog's delete entries exercise ONE tombstone generation over a
  * small slice. Production takedown traffic is the opposite shape: many
  * interleaved tombstone generations, a large cumulative deleted fraction,
  * and re-appends that must resurrect — all WITHOUT compact(), so every
  * read pays the latest-event-wins mask join across the whole ledger.
  *
  * Scenario (per store):
  *   dedup: base append (¬ residue 0 mod 5), append the rest, then FIVE
  *   delete generations (residues 1..4 mod 9, then a random-looking slice
  *   of the base by mod 11), then a resurrect append of half the first
  *   deleted slice. IVF: two appends, THREE deletes (mods 9/10/11 of the
  *   id space above the centroid-init prefix), one resurrect append.
  *
  * Gate = exact equivalence with the from-scratch engines over the
  * SURVIVOR set (candidates vs Dedup.minhashCandidates; topK vs IVF.topK)
  * plus evidence that the stress was real: ≥5 (dedup) / ≥3 (IVF) live
  * tombstone generations and a deleted fraction ≥ 20%. Prints one summary
  * line per store and exits non-zero on any violation — wired as the
  * `delete_heavy` cell of scripts/verify_matrix.sh. Dev/CI harness, not
  * engine code.
  */
object TombstoneStress {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var failures = 0
    def check(name: String)(ok: Boolean, detail: => String): Unit = {
      if (ok) System.err.println(s"[tombstone-stress] OK  $name $detail")
      else { failures += 1; System.err.println(s"[tombstone-stress] FAIL $name $detail") }
    }

    // ---- dedup signature store under takedown pressure -------------------
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").persist()
    docs.count()
    val dedupRoot = java.nio.file.Files.createTempDirectory("graft-tombstress-dd-").toString
    val st = IncrementalDedup.store(spark, dedupRoot)
    st.append(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    st.append(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    // five tombstone generations, no compact — the ledger keeps them all
    (1 to 4).foreach { r =>
      st.delete(docs.filter(pmod(col("doc_id"), lit(9)) === r).select("doc_id"))
    }
    st.delete(docs.filter(pmod(col("doc_id"), lit(11)) === 7).select("doc_id"))
    // resurrect half of the first deleted slice (latest event wins)
    val resurrect = pmod(col("doc_id"), lit(9)) === 1 && pmod(col("doc_id"), lit(2)) === 0
    st.append(docs.filter(resurrect))
    val deadPred = (pmod(col("doc_id"), lit(9)).between(1, 4) ||
      pmod(col("doc_id"), lit(11)) === 7) && !resurrect
    val survivors = docs.filter(!deadPred)
    val total = docs.count(); val live = survivors.count()
    val storeSet = st.candidates(0.25)
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fullSet = Dedup.minhashCandidates(survivors, minEstJaccard = 0.25)
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    check("dedup candidates == full recompute over survivors")(
      storeSet == fullSet,
      s"(store=${storeSet.size} full=${fullSet.size} gens=${st.committedGens().size})")
    check("dedup stress is real")(
      st.deleteGens().size >= 5 && live.toDouble / total <= 0.8,
      s"(tombstoneGens=${st.deleteGens().size} deletedFrac=${1.0 - live.toDouble / total})")

    // ---- IVF store under takedown pressure --------------------------------
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet").persist()
    embs.count()
    val query = embs.filter(col("vec_id") === 0).head().getSeq[Float](1).toSeq
    val index = IVF.train(embs, c = 16, iters = 0)
    val ivfRoot = java.nio.file.Files.createTempDirectory("graft-tombstress-ivf-").toString
    val ivf = IVFStore.create(spark, ivfRoot, index, defaultNprobe = 4)
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    val half = maxId / 2
    ivf.append(embs.filter(col("vec_id") <= half))
    ivf.append(embs.filter(col("vec_id") > half))
    // protect the first-16-by-id centroid init from deletion so the
    // from-scratch comparison uses identical frozen centroids
    def slice(m: Int, r: Int) =
      pmod(col("vec_id"), lit(m)) === r && col("vec_id") >= 16
    Seq((9, 2), (10, 7), (11, 3)).foreach { case (m, r) =>
      ivf.delete(embs.filter(slice(m, r)).select("vec_id"))
    }
    val ivfResurrect = slice(9, 2) && col("vec_id") <= half
    ivf.append(embs.filter(ivfResurrect))
    val ivfDead = (slice(9, 2) || slice(10, 7) || slice(11, 3)) && !ivfResurrect
    def ids(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = ids(ivf.topK(query, k = 30))
    val want = ids(IVF.topK(embs.filter(!ivfDead), index, query, k = 30, nprobe = 4))
    check("ivf topK == one-shot over survivors")(
      got == want, s"(k=30 gens=${ivf.committedGens().size})")
    val plan = ivf.topK(query, k = 30).queryExecution.executedPlan.toString
    check("ivf partition pruning survives the tombstone mask join at volume")(
      plan.contains("PartitionFilters") && plan.contains("cell"), "")
    check("ivf stress is real")(
      ivf.deleteGens().size >= 3, s"(tombstoneGens=${ivf.deleteGens().size})")

    spark.stop()
    if (failures > 0) { System.err.println(s"[tombstone-stress] $failures FAILURES"); sys.exit(1) }
    System.err.println("[tombstone-stress] PASS")
  }
}
