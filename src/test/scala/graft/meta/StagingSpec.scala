package graft.meta

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec

class StagingSpec extends SparkSpec {

  test("first run on a missing parquet ledger: seqs 1 and 2, one job per mark") {
    val ledger = Files.createTempDirectory("graft-staging").toString + "/ledger"
    val st = new Staging(spark, ledger)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    assert(jobsRun(st.activeFiles())._1.isEmpty)
    // the pre-flight read is the batch's only one: each mark is its append
    assert(jobsRun(st.markActive("b1", Seq("x.csv", "y.csv"), t0))._2 === 1)
    assert(jobsRun(st.markInactive("b1", Seq("x.csv", "y.csv"), t0))._2 === 1)
    assert(st.activeFiles().isEmpty)
    val seqs = spark.read.parquet(ledger).select("status", "seq").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(seqs === Set(Staging.Active -> 1L, Staging.Inactive -> 2L))
    assert(spark.createDataFrame(Seq.empty[Staging.StagingRow]).schema === Staging.schema)
  }

  test("each mark appends one parquet file") {
    val ledger = Files.createTempDirectory("graft-staging").toString + "/ledger"
    val st = new Staging(spark, ledger)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    st.markActive("b1", Seq("x.csv", "y.csv", "z.csv"), t0)
    st.markInactive("b1", Seq("x.csv", "y.csv", "z.csv"), t0)
    val parts = new java.io.File(ledger).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length === 2, parts.map(_.getName).mkString(", "))
  }

  test("first run on a missing Derby ledger: seqs 1 and 2") {
    val url = "jdbc:derby:memory:graftfirstrun;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val st = new JdbcStaging(spark, url, "first_staging", props)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    assert(st.activeFiles().isEmpty)
    st.markActive("b1", Seq("x.csv", "y.csv"), t0)
    st.markInactive("b1", Seq("x.csv", "y.csv"), t0)
    assert(st.activeFiles().isEmpty)
    val seqs = graft.io.Sources.jdbc(spark, url, "first_staging", props)
      .select("status", "seq").collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(seqs === Set(Staging.Active -> 1L, Staging.Inactive -> 2L))
  }

  test("a mark with no files appends nothing") {
    val ledger = Files.createTempDirectory("graft-staging").toString + "/ledger"
    val st = new Staging(spark, ledger)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    assert(jobsRun(st.markActive("b1", Seq.empty, t0))._2 === 0)
    assert(!Files.exists(java.nio.file.Paths.get(ledger)))
    st.markActive("b1", Seq("a.csv"), t0)
    assert(jobsRun(st.markInactive("b1", Seq.empty, t0))._2 === 0)
    assert(st.activeFiles() === Seq("a.csv"))
  }

  test("a pre-flight read made stale by another writer still resolves latest-wins") {
    val ledger = Files.createTempDirectory("graft-staging").toString + "/ledger"
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val seed = new Staging(spark, ledger)
    seed.markActive("b0", Seq("old.csv"), t0)
    seed.markInactive("b0", Seq("old.csv"), t0)
    // writer A reads the ledger (max seq 2) ...
    val a = new Staging(spark, ledger)
    assert(a.activeFiles().isEmpty)
    // ... then writer B completes A → I on a disjoint file (seqs 3, 4)
    val b = new Staging(spark, ledger)
    b.markActive("bb", Seq("b.csv"), t0)
    b.markInactive("bb", Seq("b.csv"), t0)
    // A mints from its stale read (3, 4): the seqs collide with B's, the files do not
    a.markActive("ba", Seq("a.csv"), t0)
    a.markInactive("ba", Seq("a.csv"), t0)
    val aSeqs = spark.read.parquet(ledger).filter("batchId = 'ba'")
      .select("status", "seq").collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(aSeqs === Set(Staging.Active -> 3L, Staging.Inactive -> 4L))
    assert(new Staging(spark, ledger).activeFiles().isEmpty)
    // a third writer's same-timestamp re-activation of A's file wins
    new Staging(spark, ledger).markActive("bc", Seq("a.csv"), t0)
    assert(new Staging(spark, ledger).activeFiles() === Seq("a.csv"))
  }

  test("a fresh writer mints past a seeded ledger's max seq and wins at the same timestamp") {
    val ledger = Files.createTempDirectory("graft-staging").toString + "/ledger"
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val seed = new Staging(spark, ledger)
    seed.markActive("b0", Seq("a.csv"), t0)
    seed.markInactive("b0", Seq("a.csv"), t0)
    val st = new Staging(spark, ledger)
    assert(st.activeFiles().isEmpty)
    // the mint comes from the pre-flight's observed max(seq) = 2: no read
    assert(jobsRun(st.markActive("b1", Seq("a.csv"), t0))._2 === 1)
    val seqs = spark.read.parquet(ledger).filter("batchId = 'b1'")
      .select("seq").collect().map(_.getLong(0)).toSeq
    assert(seqs === Seq(3L))
    assert(st.activeFiles() === Seq("a.csv"))
  }

  test("a JDBC ledger whose seq column reads back as Int still mints past its max") {
    val url = "jdbc:derby:memory:graftintseq;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st0 = conn.createStatement()
      st0.executeUpdate(
        """CREATE TABLE int_staging (
          |  batchId VARCHAR(64), fileName VARCHAR(256), status VARCHAR(1),
          |  updatedAt TIMESTAMP, seq INTEGER, writer VARCHAR(36))""".stripMargin)
      st0.executeUpdate("INSERT INTO int_staging VALUES " +
        "('b0', 'a.csv', 'A', '2026-01-01 00:00:00', 1, 'seed-writer')")
      st0.executeUpdate("INSERT INTO int_staging VALUES " +
        "('b0', 'a.csv', 'I', '2026-01-01 00:00:00', 2, 'seed-writer')")
      st0.close()
    } finally conn.close()
    val st = new JdbcStaging(spark, url, "int_staging", props)
    assert(st.activeFiles().isEmpty)
    // a max(seq) read as 0 would mint 1, and the new ACTIVE row would lose
    // latest-wins to the older INACTIVE one at the same timestamp
    st.markActive("b1", Seq("a.csv"), Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(st.activeFiles() === Seq("a.csv"))
    val seqs = graft.io.Sources.jdbc(spark, url, "int_staging", props)
      .filter("batchId = 'b1'").select("seq").collect().map(_.getInt(0)).toSeq
    assert(seqs === Seq(3))
  }

  test("JDBC-backed ledger has identical A/I semantics (embedded Derby)") {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val st = new JdbcStaging(spark,
      "jdbc:derby:memory:graftstaging;create=true", "product_staging_table", props)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    assert(st.activeFiles().isEmpty)
    st.markActive("b1", Seq("x.csv", "y.csv"), t0)
    assert(st.activeFiles() === Seq("x.csv", "y.csv"))
    st.markInactive("b1", Seq("x.csv"), Timestamp.valueOf("2026-01-01 01:00:00"))
    assert(st.activeFiles() === Seq("y.csv"))
  }

  test("legacy JDBC table without writer column is migrated on first append") {
    val url = "jdbc:derby:memory:graftlegacy;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    // hand-create a PRE-NONCE table: the five original columns, no writer
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st0 = conn.createStatement()
      st0.executeUpdate(
        """CREATE TABLE legacy_staging (
          |  batchId VARCHAR(64), fileName VARCHAR(256), status VARCHAR(1),
          |  updatedAt TIMESTAMP, seq BIGINT)""".stripMargin)
      st0.executeUpdate(
        "INSERT INTO legacy_staging VALUES ('b0', 'old.csv', 'A', '2026-01-01 00:00:00', 1)")
      st0.close()
    } finally conn.close()
    val st = new JdbcStaging(spark, url, "legacy_staging", props)
    // pre-migration read: null-writer ordering applies
    assert(st.activeFiles() === Seq("old.csv"))
    // append against the legacy schema must auto-ALTER, not die mid-append
    st.markInactive("b0", Seq("old.csv"), Timestamp.valueOf("2026-01-01 01:00:00"))
    assert(st.activeFiles().isEmpty)
    st.markActive("b1", Seq("new.csv"), Timestamp.valueOf("2026-01-01 02:00:00"))
    assert(st.activeFiles() === Seq("new.csv"))
    // a SECOND instance on the migrated table: Derby stored the unquoted
    // column as WRITER, so the probe must match case-insensitively — a
    // case-sensitive probe re-issues the ALTER and every append dies with
    // "column already exists" (review r9)
    val st2 = new JdbcStaging(spark, url, "legacy_staging", props)
    st2.markInactive("b1", Seq("new.csv"), Timestamp.valueOf("2026-01-01 03:00:00"))
    assert(st2.activeFiles().isEmpty)
    // and reads must surface the uppercased column as the real nonce, not
    // replace it with nulls: a hand-built (updatedAt, seq) collision
    // resolves by writer desc only if the nonce survives the read
    val conn2 = java.sql.DriverManager.getConnection(url, props)
    try {
      val s2 = conn2.createStatement()
      s2.executeUpdate("INSERT INTO legacy_staging VALUES " +
        "('bx', 'c.csv', 'A', '2026-01-02 00:00:00', 9, 'aaaa-writer')")
      s2.executeUpdate("INSERT INTO legacy_staging VALUES " +
        "('by', 'c.csv', 'I', '2026-01-02 00:00:00', 9, 'zzzz-writer')")
      s2.close()
    } finally conn2.close()
    assert(st2.activeFiles().isEmpty) // zzzz-writer's INACTIVE outranks
  }

  test("A/I lifecycle: active set reflects latest status per file") {
    val ledger = Files.createTempDirectory("graft-staging").toString + "/ledger"
    val st = new Staging(spark, ledger)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2026-01-01 01:00:00")

    assert(st.activeFiles().isEmpty)
    st.markActive("b1", Seq("a.csv", "b.csv"), t0)
    assert(st.activeFiles() === Seq("a.csv", "b.csv"))
    st.markInactive("b1", Seq("a.csv"), t1)
    assert(st.activeFiles() === Seq("b.csv"))
    // idempotent re-run of a failed batch: appending a new generation works
    st.markActive("b2", Seq("b.csv"), t1)
    st.markInactive("b2", Seq("b.csv"),
      Timestamp.valueOf("2026-01-01 02:00:00"))
    assert(st.activeFiles().isEmpty)
  }

  test("two interleaved writers: colliding seqs stay deterministic and both flows resolve") {
    val ledger = Files.createTempDirectory("graft-staging").toString + "/ledger"
    // two independent Staging instances over the SAME ledger — the shape of
    // two concurrent batch drivers. nextSeq is read-modify-write, so the
    // interleaving below makes both writers mint identical seqs at identical
    // timestamps; the writer nonce must keep latest-wins deterministic.
    val w1 = new Staging(spark, ledger)
    val w2 = new Staging(spark, ledger)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")

    // both read an empty ledger conceptually "at once": each markActive
    // mints seq=1 for its own file set
    w1.markActive("b1", Seq("f1.csv"), t0)
    w2.markActive("b2", Seq("f2.csv"), t0)
    assert(w1.activeFiles() === Seq("f1.csv", "f2.csv"))

    // interleaved completion at the same coarse timestamp
    w1.markInactive("b1", Seq("f1.csv"), t0)
    assert(w2.activeFiles() === Seq("f2.csv"))
    w2.markInactive("b2", Seq("f2.csv"), t0)
    assert(w1.activeFiles().isEmpty)
    assert(w2.activeFiles().isEmpty)

    // a third writer re-activates at the same instant: its fresh ACTIVE
    // generation must win over both finished flows
    val w3 = new Staging(spark, ledger)
    w3.markActive("b3", Seq("f1.csv"), t0)
    assert(w1.activeFiles() === Seq("f1.csv"))
  }

  test("a true (updatedAt, seq) collision across writers resolves by nonce, deterministically") {
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    // hand-built worst case: two writers minted the SAME seq at the SAME
    // timestamp for the SAME file with conflicting statuses — without the
    // nonce the winner would depend on partition scan order
    val df = spark.createDataFrame(Seq(
      Staging.StagingRow("b1", "f.csv", Staging.Active, t0, 1L, "aaaa-writer"),
      Staging.StagingRow("b2", "f.csv", Staging.Inactive, t0, 1L, "zzzz-writer")))
    // writer desc_nulls_last → "zzzz-writer" wins → file is INACTIVE
    assert(Staging.scan(df)._1.isEmpty)
    // and the mirror-image ledger flips the outcome the same way every time
    val df2 = spark.createDataFrame(Seq(
      Staging.StagingRow("b1", "f.csv", Staging.Inactive, t0, 1L, "aaaa-writer"),
      Staging.StagingRow("b2", "f.csv", Staging.Active, t0, 1L, "zzzz-writer")))
    assert(Staging.scan(df2)._1 === Seq("f.csv"))
  }

  test("same-timestamp re-activation wins over a prior INACTIVE (seq ordinal)") {
    val ledger = Files.createTempDirectory("graft-staging").toString + "/ledger"
    val st = new Staging(spark, ledger)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    st.markActive("b1", Seq("a.csv"), t0)
    st.markInactive("b1", Seq("a.csv"), t0)
    // coarse clock: the new generation's ACTIVE lands at the exact same
    // updatedAt as the old INACTIVE — the append ordinal must break the tie
    st.markActive("b2", Seq("a.csv"), t0)
    assert(st.activeFiles() === Seq("a.csv"))
    st.markInactive("b2", Seq("a.csv"), t0)
    assert(st.activeFiles().isEmpty)
  }
}
