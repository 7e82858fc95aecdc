package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Dev stress: dedup family at 10× the sf0.1 document count (synthetic,
  * generated in-memory — validates that bucket caps bound the pair
  * explosion and wall time scales ~linearly with corpus size). One pass
  * each of MinHash candidates, SimHash pairs and n-gram Jaccard; the
  * document count is the first argument (default 50000).
  */
object StressDedup {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(50000)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // word-soup docs from a fixed vocabulary, ~120 words each, seeded per-id
    // (deterministic, same shape as the testdata documents)
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
      "part", "hash", "merge", "batch", "window", "spark", "order", "data",
      "column", "join", "small", "line", "customer", "query", "filter", "group",
      "stream", "vector", "big", "sort", "the", "a")
    val docs = spark.range(n).map { id =>
      val rng = new scala.util.Random(id)
      val words = Seq.fill(80 + rng.nextInt(80))(vocab(rng.nextInt(vocab.size)))
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()

    def time[T](label: String)(f: => T): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    time(s"minhash_candidates n=$n") {
      val c = Dedup.minhashCandidates(docs, minEstJaccard = 0.25).count()
      println(s"  pairs: $c")
    }
    spark.catalog.clearCache()
    time(s"simhash_pairs n=$n") {
      val c = Dedup.simhashPairs(docs, maxHamming = 3).count()
      println(s"  pairs: $c")
    }
    spark.catalog.clearCache()
    time(s"ngram_jaccard n=$n") {
      val c = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.01, maxBucket = 100).count()
      println(s"  pairs: $c")
    }
    spark.stop()
  }
}
