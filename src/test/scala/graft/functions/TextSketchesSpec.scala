package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel correctness vs straightforward reference implementations, plus
  * codegen-path equivalence (the DataFrame run exercises doGenCode; direct
  * kernel calls exercise nullSafeEval's path).
  */
class TextSketchesSpec extends SparkSpec {
  import spark.implicits._

  test("ngram hashes = distinct hashes of space-joined token windows") {
    val s = "a bb ccc a bb ddd"
    val toks = s.split(" ")
    val want = toks.sliding(3).map(_.mkString(" ")).map { g =>
      val u = UTF8String.fromString(g)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    }.toSeq.distinct.sorted
    val got = TextSketches.computeNgrams(UTF8String.fromString(s), 3)
      .toLongArray().toSeq
    assert(got === want)
    assert(TextSketches.computeNgrams(UTF8String.fromString("a b"), 3).numElements() === 0)
  }

  test("codegen path (DataFrame) agrees with the interpreted kernel") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("id", "norm")
    val rows = df.select(col("id"),
        PortableSketches.portableMinhashSig(col("norm"), 5, 16).as("sig"),
        PortableSketches.portableWinnow(col("norm"), 8, 4).as("fp"),
        TextSketches.ngramHashes(col("norm"), 2).as("ng"))
      .orderBy("id").collect()
    for (r <- rows) {
      val norm = if (r.getLong(0) == 1L) "the quick brown fox jumps over the lazy dog"
        else "pack my box with five dozen liquor jugs"
      val u = UTF8String.fromString(norm)
      assert(r.getSeq[Long](1) ===
        PortableSketches.computePortableMinHash(u, 5, 16).toLongArray().toSeq)
      assert(r.getSeq[Long](2) === PortableSketches.computePortableWinnow(u, 8, 4).toLongArray().toSeq)
      assert(r.getSeq[Long](3) === TextSketches.computeNgrams(u, 2).toLongArray().toSeq)
    }
  }
}
