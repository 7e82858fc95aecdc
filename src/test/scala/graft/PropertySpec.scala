package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests over generated mini-facts (SURVEY.md §5 item 3):
  * aggregation-idiom equivalence, union additivity, incentive law.
  * Raw ScalaCheck generators driven by fixed seeds (scalatestplus isn't in
  * the offline cache), so failures are reproducible.
  */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private val rowGen = for {
    key <- Gen.choose(1, 5)
    month <- Gen.oneOf("2023-01", "2023-02", "2023-03")
    cents <- Gen.choose(1L, 100000L)
  } yield (key, month, cents / 100.0)

  private val tableGen = Gen.listOfN(60, rowGen)

  private def samples(n: Int): Seq[List[(Int, String, Double)]] =
    (1 to n).map(i => tableGen.apply(Gen.Parameters.default, Seed(42L + i)).get)

  test("∀ data: groupBy-sum ≡ window-sum + distinct (the reference's idiom)") {
    samples(5).foreach { rows =>
      val df = rows.toDF("key", "month", "amount")
      val grouped = df.groupBy($"key", $"month")
        .agg(functions.Cols.moneySum($"amount").as("total"))
      val windowed = df
        .withColumn("total",
          sum($"amount".cast(DecimalType(18, 2)))
            .over(Window.partitionBy($"key", $"month")).cast(DoubleType))
        .select($"key", $"month", $"total").distinct()
      assert(grouped.exceptAll(windowed).isEmpty && windowed.exceptAll(grouped).isEmpty)
    }
  }

  test("∀ data: union row-count additivity with the empty seed") {
    samples(3).sliding(2).foreach { case Seq(a, b) =>
      val dfA = a.toDF("key", "month", "amount")
      val dfB = b.toDF("key", "month", "amount")
      val seeded = io.Sources.empty(spark, dfA.schema).union(dfA).union(dfB)
      assert(seeded.count() === (a.size + b.size).toLong)
    }
  }

  test("∀ data: moneySum is identical under any repartitioning") {
    samples(3).foreach { rows =>
      val df = rows.toDF("key", "month", "amount")
      def total(d: org.apache.spark.sql.DataFrame): Double =
        d.agg(functions.Cols.moneySum($"amount")).head().getDouble(0)
      val one = total(df.coalesce(1))
      assert(total(df.repartition(17)) === one)
      assert(total(df.repartition($"key")) === one)
    }
  }

  private val snapRowGen = for {
    key <- Gen.choose(1L, 30L)
    v <- Gen.option(Gen.alphaStr.map(_.take(4)))
    x <- Gen.choose(0, 99)
  } yield (key, v, x)

  private def snapSamples(n: Int): Seq[Seq[(Long, Option[String], Int)]] =
    (1 to n).map(i => Gen.listOfN(25, snapRowGen)
      .apply(Gen.Parameters.default, Seed(1000L + i)).get
      .groupBy(_._1).map(_._2.head).toSeq) // one row per key (snapshot invariant)

  test("∀ snapshots: applyChanges(before, diffRows(before, after)) == after") {
    snapSamples(6).sliding(2).foreach { case Seq(a, b) =>
      val before = a.toDF("k", "v", "x")
      val after = b.toDF("k", "v", "x")
      val rebuilt = etl.SnapshotDiff.applyChanges(before,
        etl.SnapshotDiff.diffRows(before, after, Seq("k")), Seq("k"))
      assert(rebuilt.exceptAll(after).isEmpty && after.exceptAll(rebuilt).isEmpty)
    }
  }

  test("∀ snapshots: upsert keeps key-union, update values win, idempotent") {
    snapSamples(6).sliding(2).foreach { case Seq(a, b) =>
      val cur = a.toDF("k", "v", "x")
      val upd = b.toDF("k", "v", "x")
      val once = etl.Upsert.upsert(cur, upd, Seq("k"))
      val wantKeys = (a.map(_._1) ++ b.map(_._1)).toSet
      assert(once.select("k").distinct().collect().map(_.getLong(0)).toSet === wantKeys)
      assert(once.count() === wantKeys.size.toLong)
      // every update row appears verbatim
      assert(upd.exceptAll(once).isEmpty)
      // idempotent
      val twice = etl.Upsert.upsert(once, upd, Seq("k"))
      assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
    }
  }

  test("∀ events: sessionize conserves events and bounds sessions") {
    val evGen = for {
      user <- Gen.choose(1L, 6L)
      ts <- Gen.choose(0L, 10000L)
      v <- Gen.choose(0, 100)
    } yield (user, ts, v.toDouble)
    (1 to 4).foreach { i =>
      val rows = Gen.listOfN(80, evGen).apply(Gen.Parameters.default, Seed(7L * i)).get
        .zipWithIndex.map { case ((u, t, v), id) => (u, id.toLong, t, v) }
      val df = rows.toDF("user_id", "event_id", "ts_us", "value")
      val sess = ops.Sessions.sessionize(df, gapMicros = 500L)
      val n = sess.agg(sum($"n_events")).head().getLong(0)
      assert(n === rows.size.toLong)
      val users = rows.map(_._1).distinct.size.toLong
      val nSess = sess.count()
      assert(nSess >= users && nSess <= rows.size.toLong)
    }
  }

  test("∀ data: rank-1 incentive = 1% of the group max, others zero") {
    // several sellers per (store, month) and whole-ten amounts, so equal
    // totals are common; each sample also forces a tied top pair (sellers 5
    // and 6 in store 1, 2023-01) — every seller at the max must rank 1
    val saleGen = for {
      store <- Gen.choose(1, 3)
      month <- Gen.oneOf("2023-01", "2023-02")
      seller <- Gen.choose(1, 4)
      tens <- Gen.choose(1, 3)
    } yield (store, seller, month, tens * 10.0)
    (1 to 5).foreach { i =>
      val rows = Gen.listOfN(40, saleGen).apply(Gen.Parameters.default, Seed(300L + i)).get ++
        Seq((1, 5, "2023-01", 1000.0), (1, 6, "2023-01", 1000.0))
      val totals = etl.Marts.monthlyTotals(
        rows.toDF("store_id", "sales_person_id", "sales_month", "x"),
        Seq($"store_id", $"sales_person_id", $"sales_month"), $"x")
      val ranked = etl.Marts.withIncentive(totals)
        .withColumn("mx", max($"total_sales")
          .over(Window.partitionBy($"store_id", $"sales_month")))
        .withColumn("top", $"total_sales" === $"mx")
      val tiedGroups = ranked.filter($"top")
        .groupBy($"store_id", $"sales_month").count().filter($"count" > 1)
      assert(!tiedGroups.isEmpty, "no tied top sellers in the sample")
      val bad = ranked.filter(
        (($"rnk" === 1) =!= $"top") ||
        ($"top" && abs($"incentive" - $"mx" * 0.01) > 1e-9) ||
        (!$"top" && $"incentive" =!= 0.0))
      assert(bad.isEmpty)
    }
  }

  test("∀ data: groupedSelect ≡ full rank + filter (ties, negatives, whales, random cuts)") {
    // the generator deliberately produces duplicate values (ties broken by
    // id), negative values, and occasional 10^9-scale whales — the shapes
    // the blended bucket position and the (g, bucket, rank) replica window
    // must survive
    val rowGen = for {
      g <- Gen.oneOf("a", "b", "c")
      base <- Gen.choose(-500L, 500L)
      whale <- Gen.frequency(19 -> Gen.const(0L), 1 -> Gen.const(1000000000L))
    } yield (g, (base + whale).toDouble)
    val tableGen = Gen.listOfN(80, rowGen)
    val cutGen = Gen.oneOf(
      "(n + 1) div 2", "(5 * n + 99) div 100", "(95 * n + 99) div 100", "n", "1")
    (1 to 5).foreach { i =>
      val rows = tableGen.apply(Gen.Parameters.default, Seed(100L + i)).get
        .zipWithIndex.map { case ((g, v), id) => (g, v, id.toLong) }
      val cuts = Gen.listOfN(2, cutGen)
        .apply(Gen.Parameters.default, Seed(200L + i)).get
      val df = rows.toDF("grp", "v", "id")
      val ks = array(cuts.map(expr): _*)
      val got = ops.Distribution.groupedSelect(df, "grp", $"v", Seq($"id"), ks)
        .select($"g", $"rank", $"v")
      val want = df.withColumn("rank", row_number().over(
          Window.partitionBy($"grp").orderBy($"v", $"id")).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"grp")))
        .filter(cuts.map(c => $"rank" === expr(c)).reduce(_ || _))
        .select($"grp".as("g"), $"rank", $"v").distinct()
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"seed ${100 + i}, cuts $cuts")
      // groupedRanks shares the blended bucket prelude — same data must
      // reproduce the full window ranking too
      val gotRanks = ops.Distribution.groupedRanks(df, "grp", $"v", Seq($"id"))
        .select($"g", $"t0".as("id"), $"rank")
      val wantRanks = df.withColumn("rank", row_number().over(
          Window.partitionBy($"grp").orderBy($"v", $"id")).cast("long"))
        .select($"grp".as("g"), $"id", $"rank")
      assert(gotRanks.exceptAll(wantRanks).isEmpty
        && wantRanks.exceptAll(gotRanks).isEmpty, s"ranks: seed ${100 + i}")
    }
  }

  test("arg-max tie-break: smallest key wins a measure tie; null measures never win") {
    // the exact expression the arg_max catalog entry uses — a scale corpus
    // mints equal-measure twins (8x replicas of every 1x maximum, round
    // 12), so bare max_by's arbitrary-pick-under-tie is a divergence, not
    // a don't-care: the contract is (max price, then MIN key), null
    // prices excluded, all-null group → null
    import spark.implicits._
    val df = Seq[(String, Long, java.lang.Double)](
      ("a", 9L, 10.0), ("a", 2L, 10.0), ("a", 5L, 10.0), ("a", 1L, 3.0),
      ("b", 4L, null), ("b", 7L, 1.0),
      ("c", 6L, null), ("c", 3L, null)
    ).toDF("g", "k", "p")
    val got = df.groupBy($"g")
      .agg(expr("max_by(k, CASE WHEN p IS NOT NULL THEN struct(p, -k) END)").as("top"))
      .as[(String, java.lang.Long)].collect().toMap
    assert(got("a") === 2L)   // tie on 10.0 → smallest key, not 9 or 5
    assert(got("b") === 7L)   // null price can't win even with larger key
    assert(got("c") === null) // all-null group stays null
  }

  test("∀ weights: Hamilton allocation sums to seats and stays within 1 of quota") {
    val weightsGen = Gen.listOfN(8, Gen.choose(1L, 1000000L))
    (1 to 5).foreach { i =>
      val ws = weightsGen.apply(Gen.Parameters.default, Seed(7L + i)).get
        .zipWithIndex.map { case (w, k) => (s"k$k", w) }
      val seats = 97L
      val total = ws.map(_._2).sum.toDouble
      val got = ops.Distribution
        .quotaAllocation(ws.toDF("k", "w"), "k", "w", seats)
        .select($"key", $"weight", $"seats").as[(String, Long, Long)].collect()
      assert(got.map(_._3).sum === seats)
      // largest-remainder quota property: every key gets floor(q) or ceil(q)
      got.foreach { case (k, w, s) =>
        val q = seats * w / total
        assert(s === math.floor(q).toLong || s === math.ceil(q).toLong,
          s"$k: seats $s outside [floor,ceil] of quota $q")
      }
    }
  }
}
