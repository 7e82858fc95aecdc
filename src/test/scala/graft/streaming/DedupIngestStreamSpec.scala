package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Dedup, IncrementalDedup}

/** Pins [[DedupIngestStream]]: a file-drop stream appended micro-batch by
  * micro-batch into the persisted signature store equals the full
  * recompute over all files, and the idempotency-key ledger makes the
  * foreachBatch at-least-once replay window (store committed, checkpoint
  * didn't) an exact no-op.
  */
class DedupIngestStreamSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")

  private def candSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** One inbox file per slice, with strictly increasing mtimes so the
    * FileStreamSource backlog order is deterministic (ROUNDLOG r13
    * lesson 2 — ties break arbitrarily).
    */
  private def dropFile(df: DataFrame, inbox: String, idx: Int): Unit = {
    val tmp = Files.createTempDirectory("graft-ingest-slice-").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    val dst = Paths.get(inbox, f"f$idx%04d.parquet")
    Files.move(part.toPath, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + idx * 1000L))
  }

  test("stream of file drops == full recompute; checkpoint-crash replay is a no-op; new drops continue") {
    val root = Files.createTempDirectory("graft-ingeststream-").toString
    val inbox = s"$root/inbox"; Files.createDirectories(Paths.get(inbox))
    (0 to 2).foreach(i =>
      dropFile(docs.filter(pmod(col("doc_id"), lit(3)) === i), inbox, i))

    DedupIngestStream.runOnce(spark, inbox, docs.schema, s"$root/store", s"$root/ckpt")
    val st = IncrementalDedup.store(spark, s"$root/store")
    assert(st.committedGens().size === 3) // maxFilesPerTrigger=1 → one gen per file
    val full = Dedup.minhashCandidates(docs, minEstJaccard = 0.25)
    assert(candSet(st.candidates(0.25)) === candSet(full))

    // the at-least-once window: the store committed its generation but the
    // checkpoint never recorded the micro-batch — simulated by deleting
    // the checkpoint's newest commit file. Restart replays that batch; the
    // idempotency ledger must absorb it with NO new generation.
    val commits = new java.io.File(s"$root/ckpt/commits").listFiles()
      .filterNot(_.getName.startsWith(".")).map(_.getName.toInt)
    // delete through the Hadoop FS: the local ChecksumFileSystem keeps a
    // .crc sidecar per commit file, and a raw java.nio delete leaves it
    // behind — the replay's commit-log rename then fails as a phantom
    // "multiple streaming queries" conflict
    val hfs = new org.apache.hadoop.fs.Path(s"$root/ckpt")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$root/ckpt/commits/${commits.max}"), false)
    DedupIngestStream.runOnce(spark, inbox, docs.schema, s"$root/store", s"$root/ckpt")
    assert(st.committedGens().size === 3)
    assert(candSet(st.candidates(0.25)) === candSet(full))

    // ingest continues: a later drop lands as one more generation and the
    // store still equals the full recompute over everything ingested
    import spark.implicits._
    val extra = Seq(
      900000L -> "the quick brown fox jumps over the lazy dog again and again",
      900001L -> "the quick brown fox jumps over the lazy dog again and again")
      .toDF("doc_id", "text")
    dropFile(extra, inbox, 3)
    DedupIngestStream.runOnce(spark, inbox, docs.schema, s"$root/store", s"$root/ckpt")
    assert(st.committedGens().size === 4)
    val fullPlus = Dedup.minhashCandidates(
      docs.select("doc_id", "text").unionByName(extra), minEstJaccard = 0.25)
    assert(candSet(st.candidates(0.25)) === candSet(fullPlus))
  }

  test("idempotency keys survive compaction") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingestkeys-").toString
    val st = IncrementalDedup.store(spark, root)
    val a = Seq(1L -> "spark engines shuffle sorted runs across executor memory pools")
      .toDF("doc_id", "text")
    val b = Seq(2L -> "the quick brown fox jumps over the lazy dog again and again")
      .toDF("doc_id", "text")
    st.append(a, idempotencyKey = Some("microbatch=0"))
    st.append(b, idempotencyKey = Some("microbatch=1"))
    assert(st.appliedKeys() === Set("microbatch=0", "microbatch=1"))
    st.compact()
    assert(st.committedGens().size === 1)
    assert(st.appliedKeys() === Set("microbatch=0", "microbatch=1"))
    // a replay of either batch after compaction is still a no-op
    st.append(a, idempotencyKey = Some("microbatch=0"))
    assert(st.committedGens().size === 1)
    // deletes take keys too — a stream-driven takedown replays as a no-op
    st.delete(a.select("doc_id"), idempotencyKey = Some("takedown=0"))
    val gensAfterDelete = st.committedGens()
    st.delete(a.select("doc_id"), idempotencyKey = Some("takedown=0"))
    assert(st.committedGens() === gensAfterDelete)
    assert(st.appliedKeys().contains("takedown=0"))
  }
}
