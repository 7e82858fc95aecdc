package graft.plans

import graft.{SparkSpec, Tables}
import graft.functions.StringSimilarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class JaroWinklerLengthPruningSpec extends SparkSpec {

  private def fuzzyPairs: DataFrame = {
    val part = Tables(spark, sf(), "part")
    val a = part.filter(col("p_partkey") % 7 === 0)
      .select(col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = part.filter(col("p_partkey") % 11 === 0)
      .select(col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    a.crossJoin(b).filter(col("key_a") < col("key_b"))
      .filter(StringSimilarity.jaroWinkler(col("name_a"), col("name_b")) > lit(0.9))
      .select(col("key_a"), col("key_b"))
  }

  private def withRule[T](f: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ JaroWinklerLengthPruning
    try f
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == JaroWinklerLengthPruning)
  }

  test("rule injects a length bound under the jaro_winkler filter") {
    withRule {
      val optimized = fuzzyPairs.queryExecution.optimizedPlan.toString
      assert(optimized.contains("length"), optimized)
      assert(optimized.contains("jaro_winkler"), optimized)
    }
    // without the rule, no length predicate exists
    val plain = fuzzyPairs.queryExecution.optimizedPlan.toString
    assert(!plain.contains("length"), plain)
  }

  test("rewrite preserves results exactly") {
    val want = fuzzyPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = withRule(fuzzyPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(got === want)
    assert(want.nonEmpty) // the comparison is not vacuous
  }

  test("bound is implied by the threshold (property over random strings)") {
    // for any pair with jw > t, min*1.0 > (5t-4)*max must hold
    val rng = new scala.util.Random(7)
    val alphabet = "abcdefg"
    def randStr() = Seq.fill(1 + rng.nextInt(12))(alphabet(rng.nextInt(alphabet.length))).mkString
    val t = 0.85
    (1 to 2000).foreach { _ =>
      val (x, y) = (randStr(), randStr())
      val jw = graft.functions.JaroWinkler.compute(x, y)
      if (jw > t) {
        val (lo, hi) = (math.min(x.length, y.length).toDouble, math.max(x.length, y.length).toDouble)
        assert(lo > (5 * t - 4) * hi, s"bound violated for ($x, $y) jw=$jw")
      }
    }
  }

  test("rewrite preserves results on non-ASCII strings (byte-length bound)") {
    // The kernel scores UTF-8 BYTES, so the bound must too (OctetLength).
    // With char Length, jw("é","éa") = 0.911 > 0.9 but the char predicate
    // 1.0 > 0.5*2.0 is false — the rule dropped a true match (ADVICE r9).
    val rows = Seq(
      ("é", "éa"), ("née", "néee"), ("grüße", "grüßen"),
      ("日本語", "日本語a"), ("ascii", "ascij"), ("x", "yyyyyy"))
    import spark.implicits._
    def pairs: DataFrame = rows.toDF("sa", "sb")
      .filter(StringSimilarity.jaroWinkler(col("sa"), col("sb")) > lit(0.9))
      .select(col("sa"), col("sb"))
    val want = pairs.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = withRule(pairs.collect().map(r => (r.getString(0), r.getString(1))).toSet)
    assert(got === want)
    assert(want.contains(("é", "éa")), want) // the adversarial case is live
  }

  test("bound is implied by the threshold over non-ASCII strings (byte units)") {
    val rng = new scala.util.Random(11)
    val alphabet = "aébc語ß"
    def randStr() = Seq.fill(1 + rng.nextInt(8))(alphabet(rng.nextInt(alphabet.length))).mkString
    val t = 0.85
    (1 to 2000).foreach { _ =>
      val (x, y) = (randStr(), randStr())
      val jw = graft.functions.JaroWinkler.compute(x, y)
      if (jw > t) {
        val (bx, by) = (x.getBytes("UTF-8").length, y.getBytes("UTF-8").length)
        val (lo, hi) = (math.min(bx, by).toDouble, math.max(bx, by).toDouble)
        assert(lo > (5 * t - 4) * hi, s"byte bound violated for ($x, $y) jw=$jw")
      }
    }
  }

  test("GraftExtensions registers the rule") {
    // the injector runs against a fresh extensions object; we only verify
    // registration executes (session-build wiring is config-level)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
  }
}
