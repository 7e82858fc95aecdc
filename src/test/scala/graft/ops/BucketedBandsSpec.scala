package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The bucketed band layout (`Config.bandBuckets > 0`, r13 verdict item 3):
  * appends/deletes against a bucketed store must (a) stay EXACTLY
  * equivalent to the plain layout and the full recompute, and (b) actually
  * prune — the touched-bucket read during an append must reach the scan as
  * a `bkt` PARTITION filter, not a post-scan row filter over every stored
  * band (that pruning is the whole point: O(touched/bandBuckets) per-append
  * I/O instead of O(corpus)).
  */
class BucketedBandsSpec extends SparkSpec {

  private def tempRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-bktspec-").toString

  private def candSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
  private val bucketedCfg = IncrementalDedup.Config(bandBuckets = 8)

  test("bucketed store == full recompute across appends, deletes, resurrect, compact") {
    val st = IncrementalDedup.store(spark, tempRoot(), bucketedCfg)
    st.append(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    st.append(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val full = Dedup.minhashCandidates(docs, minEstJaccard = 0.25)
    assert(candSet(st.candidates(0.25)) === candSet(full))

    st.delete(docs.filter(pmod(col("doc_id"), lit(9)) === 1).select("doc_id"))
    st.append(docs.filter(
      pmod(col("doc_id"), lit(9)) === 1 && pmod(col("doc_id"), lit(2)) === 0))
    val survivors = docs.filter(
      pmod(col("doc_id"), lit(9)) =!= 1 ||
        (pmod(col("doc_id"), lit(9)) === 1 && pmod(col("doc_id"), lit(2)) === 0))
    val fullSurv = Dedup.minhashCandidates(survivors, minEstJaccard = 0.25)
    assert(candSet(st.candidates(0.25)) === candSet(fullSurv))

    // compact folds into ONE bucketed generation and changes nothing
    st.compact()
    assert(st.committedGens().size === 1)
    assert(candSet(st.candidates(0.25)) === candSet(fullSurv))
  }

  test("bands live under bkt= partition directories; readers strip the layout column") {
    val root = tempRoot()
    val st = IncrementalDedup.store(spark, root, bucketedCfg)
    st.append(docs.filter(col("doc_id") < 2000))
    val bandDirs = new java.io.File(s"$root/gen=0/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(bandDirs.nonEmpty && bandDirs.forall(_.startsWith("bkt=")), bandDirs)
    assert(bandDirs.size > 1, "one bucket directory = pruning is vacuous")
    assert(!st.bands().columns.contains("bkt"))
  }

  test("an append's store-side band read is PARTITION-pruned to the touched buckets") {
    val st = IncrementalDedup.store(spark, tempRoot(), bucketedCfg)
    st.append(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    val plans = mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      st.append(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
      // listener delivery is async — wait for the capture to go stable
      var last = -1; var stable = 0
      val deadline = System.currentTimeMillis + 30000
      while (stable < 3 && System.currentTimeMillis < deadline) {
        Thread.sleep(100)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    val all = plans.synchronized(plans.toSeq)
    // the pairs write's job reads the stored bands: its scan must carry the
    // touched buckets as PartitionFilters on bkt — file-group pruning, the
    // O(corpus) → O(touched) append-read cut
    val pruned = all.exists(p =>
      p.contains("PartitionFilters") && p.contains("bkt") && p.contains("bands"))
    assert(pruned, all.filter(_.contains("bands")).mkString("\n===\n").take(6000))
  }

  // ---- batch-scoped candidates (r14 verdict item 3) ------------------------

  test("candidatesForGen == candidates() filtered to pairs involving the batch (both layouts)") {
    for (cfg <- Seq(IncrementalDedup.Config(), bucketedCfg)) {
      val st = IncrementalDedup.store(spark, tempRoot(), cfg)
      st.append(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
      st.append(docs.filter(pmod(col("doc_id"), lit(5)) === 0)) // gen 1 = the batch
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      def involving = candSet(st.candidates(0.0)).filter(p => batch(p._1) || batch(p._2))
      val want = involving
      assert(want.nonEmpty, "vacuous batch-scoped check — no involving pairs in testdata")
      assert(candSet(st.candidatesForGen(1)) === want)
      // still exact after a takedown reshapes the batch's buckets
      st.delete(docs.filter(pmod(col("doc_id"), lit(7)) === 2).select("doc_id"))
      assert(candSet(st.candidatesForGen(1)) === involving)
      // tombstone generations have no batch to scope to
      intercept[IllegalArgumentException] { st.candidatesForGen(2) }
    }
  }

  test("batch-scoped candidate reads PRUNE the pairs and touched scans to the batch's buckets") {
    val st = IncrementalDedup.store(spark, tempRoot(), bucketedCfg)
    st.append(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    st.append(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val plan = st.candidatesForGen(1).queryExecution.executedPlan.toString
    val lines = plan.split("\n")
    def prunedScan(part: String): Boolean = lines.exists(l =>
      l.contains(s"/$part") && l.contains("PartitionFilters") && l.contains("bkt"))
    // the whole latest-wins resolution must hit the file index as bkt
    // partition filters — a post-scan row filter would still read O(corpus)
    assert(prunedScan("pairs"), plan.split("\n").filter(_.contains("/pairs")).mkString("\n").take(4000))
    assert(prunedScan("touched"), plan.split("\n").filter(_.contains("/touched")).mkString("\n").take(4000))
  }

  test("bucketed store survives delete-everything-then-compact (empty partitioned fold)") {
    val st = IncrementalDedup.store(spark, tempRoot(), bucketedCfg)
    val slice = docs.filter(col("doc_id") < 100)
    st.append(slice)
    st.delete(slice.select("doc_id"))
    // the fold writes ZERO band rows: the partitionBy(bkt) write emits no
    // files, and committing that would poison later reads — the rewrite
    // must land one schema-bearing unpartitioned file (bkt as a column)
    st.compact()
    assert(st.committedGens().size === 1)
    assert(st.bands().count() === 0)
    assert(st.candidates(0.0).collect().isEmpty)
    // still writable, and the revived store unions the empty fold with a
    // fresh bucketed generation without tripping partition discovery
    st.append(slice.filter(col("doc_id") < 50))
    assert(st.sigs().count() > 0)
    assert(st.candidates(0.0).count() >= 0)
  }

  test("plain and bucketed layouts cannot mix in one store (persisted config)") {
    val root = tempRoot()
    IncrementalDedup.store(spark, root, bucketedCfg).append(docs.filter(col("doc_id") < 500))
    val plain = IncrementalDedup.store(spark, root) // bandBuckets = 0
    val e = intercept[IllegalArgumentException] {
      plain.append(docs.filter(col("doc_id") >= 500 && col("doc_id") < 1000))
    }
    assert(e.getMessage.contains("bandBuckets"))
  }
}
