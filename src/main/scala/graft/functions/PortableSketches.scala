package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Cross-engine-REPLAYABLE sketch kernels, built from primitives any SQL
  * engine ships — md5 for the base hash, and a universal hash family
  * modulo the Mersenne prime 2^61-1 for the MinHash permutations (a
  * 128-bit product, exact in DuckDB HUGEINT and via Math.multiplyHigh
  * here). The near-dup operators ([[graft.ops.Dedup]],
  * [[graft.ops.TextAnalysis.fingerprints]], [[graft.ops.IncrementalDedup]])
  * use these so the DuckDB oracle can recompute the SKETCH itself, not
  * just downstream arithmetic. Each kernel scans a document once inside
  * whole-stage codegen (no explode); the price of replayability is one
  * md5 per gram instead of a non-cryptographic hash (SCALE.md "Dedup
  * family").
  *
  * Base hash: `hash60(s)` = first 15 hex chars of md5(s) as a long — i.e.
  * the top 60 bits of the digest, so both engines agree bit-for-bit
  * (`('0x' || substr(md5(s), 1, 15))::BIGINT` in DuckDB,
  * `conv(substr(md5(s), 1, 15), 16, 10)` in Spark SQL).
  *
  * Permutations: h_j = (a_j * h + b_j) mod (2^61 - 1), with a_j =
  * hash60("mixa:j"), b_j = hash60("mixb:j") — a proper 2-universal family
  * (unlike an XOR mix, which is not min-wise independent: measured on the
  * gate corpus it inflated 0.25-est-Jaccard candidate pairs 4×). Both
  * sides derive the coefficients from the same md5 strings, so nothing is
  * hard-coded twice.
  *
  * All kernels return an EMPTY array (never null) for degenerate inputs,
  * so codegen stays on `defineCodeGen`'s non-null fast path.
  */
object PortableSketches {

  /** Mersenne prime 2^61 - 1 — the universal-hash modulus. */
  val P61: Long = (1L << 61) - 1

  /** (a * b) mod (2^61 - 1) for 0 <= a, b < 2^61: fold the 128-bit product
    * with 2^61 ≡ 1 (mod p). multiplyHigh is signed, but a, b < 2^61 keeps
    * the product below 2^122, so the sign bit never engages.
    */
  def mulMod61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b // low 64 bits, unsigned semantics
    var r = ((hi << 3) | (lo >>> 61)) + (lo & P61) // (x >> 61) + (x & p)
    while (r >= P61) r -= P61
    r
  }

  /** 60-bit md5 hash of a UTF-8 string — driver/executor twin of the SQL
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`. The first 15 hex chars are
    * the top 60 bits of the big-endian digest.
    */
  def hash60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    be64(d, 0) >>> 4
  }

  /** 60-bit md5 hash column — `hash60(s: String)` as Spark SQL. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The DuckDB fragment computing the same 60-bit hash of `x`. */
  def hash60Sql(x: String): String =
    s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  private def be64(d: Array[Byte], off: Int): Long = {
    var r = 0L
    var i = 0
    while (i < 8) { r = (r << 8) | (d(off + i) & 0xFFL); i += 1 }
    r
  }

  private val maxMixes = 256

  /** Universal-hash coefficients, derived (not sampled) so the oracle can
    * rebuild them: a_j = hash60("mixa:j"), b_j = hash60("mixb:j").
    */
  val (mixA, mixB) = (
    Array.tabulate(maxMixes)(j => hash60(s"mixa:$j")),
    Array.tabulate(maxMixes)(j => hash60(s"mixb:$j")))

  /** Replayable MinHash signature: min over character k-grams of
    * (a_j * hash60(gram) + b_j) mod (2^61 - 1), j < numHashes, from one
    * pass over the document; empty for docs shorter than k characters.
    */
  def portableMinhashSig(norm: Column, k: Int, numHashes: Int): Column =
    bridge.column(PortableMinHash(bridge.expression(norm), k, numHashes))

  /** Replayable winnowing fingerprint: min of each w-window of md5-60bit
    * character k-gram hashes, sorted distinct — the one-pass kernel form of the
    * explode → window-min algorithm the oracle states (proven equal in
    * ReplaySpec; the explode shape cost 5.5 s vs ~1 s at sf0.1). Empty for
    * docs with no full window (< k + w - 1 characters).
    */
  def portableWinnow(norm: Column, k: Int, w: Int): Column =
    bridge.column(PortableWinnow(bridge.expression(norm), k, w))

  /** Replayable distinct character-k-gram hash SET: sorted distinct hash60
    * of every k-gram, pairing with [[TextSketches.sortedIntersectCount]]
    * for exact-Jaccard verification the oracle can recompute
    * (`list_distinct([hash60(substr(norm, i, k)) ...])` in DuckDB). Empty
    * for docs shorter than k characters.
    */
  def portableGramHashes(norm: Column, k: Int): Column =
    bridge.column(PortableGramHashes(bridge.expression(norm), k))

  private val empty = new GenericArrayData(Array.emptyLongArray)

  /** UTF-8 code-point start offsets plus a terminal `len`. Gram windows
    * count CHARACTERS exactly like the oracle's `substr(norm, i, k)`
    * (DuckDB substr/len count code points): a multi-byte character never
    * splits across grams, and the bytes hashed for gram i are precisely
    * the UTF-8 encoding of the k-char substring — so md5 agrees with
    * DuckDB's `md5(substr(...))` for ANY input, not just ASCII (review
    * r9: byte windows silently diverged on the first non-ASCII char).
    * For ASCII this is the identity mapping, so hashes are bit-identical
    * to the byte-window form the gate corpora already pinned.
    */
  private def charOffsets(bytes: Array[Byte], len: Int): Array[Int] = {
    var n = 0
    var i = 0
    while (i < len) { if ((bytes(i) & 0xC0) != 0x80) n += 1; i += 1 }
    val off = new Array[Int](n + 1)
    var j = 0
    i = 0
    while (i < len) { if ((bytes(i) & 0xC0) != 0x80) { off(j) = i; j += 1 }; i += 1 }
    off(n) = len
    off
  }

  /** Per-gram md5 → top-60-bits loop shared by the kernels; gram i spans
    * bytes [off(i), off(i+k)). One MessageDigest + scratch buffer per
    * document, digest written in place (no allocation per gram).
    */
  private def gramHashes(bytes: Array[Byte], off: Array[Int], k: Int, n: Int): Array[Long] = {
    val md = MessageDigest.getInstance("MD5")
    val scratch = new Array[Byte](16)
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(bytes, off(i), off(i + k) - off(i))
      md.digest(scratch, 0, 16)
      hashes(i) = be64(scratch, 0) >>> 4
      i += 1
    }
    hashes
  }

  def computePortableMinHash(s: UTF8String, k: Int, numHashes: Int): ArrayData = {
    require(numHashes <= maxMixes, s"numHashes $numHashes > $maxMixes")
    val bytes = s.getBytes // copy; MessageDigest needs a heap array anyway
    val off = charOffsets(bytes, bytes.length)
    val nChars = off.length - 1
    if (nChars < k) return empty
    val hashes = gramHashes(bytes, off, k, nChars - k + 1)
    // dedup hashes before the numHashes-wide permutation loop: repeated
    // grams (~30% of a text corpus) contribute nothing to a min, and
    // dedup on the HASH is exactly semantics-preserving — equal h maps to
    // equal h_j for every permutation, so the mins are unchanged even if
    // two distinct grams collide in hash60. Open-addressing probe, power-
    // of-two table ≥ 2n; 0 needs a flag because it doubles as the empty
    // sentinel.
    // dedup is an OPTIMIZATION only — for large single documents the
    // power-of-two table would first balloon past useful memory (a near-
    // 2^24-gram doc allocates a 2^25-entry = 256 MB transient array per
    // task; ADVICE r8) and eventually overflow Int (negative array size at
    // ~2^29 grams; review r8). 2^20 grams ≈ 1 MB of text keeps the table
    // ≤ 2^21 entries = 16 MB per task; beyond that, process without dedup
    // instead of allocating: same mins either way.
    val useDedup = hashes.length <= (1 << 20)
    val cap =
      if (useDedup) java.lang.Integer.highestOneBit(math.max(4, hashes.length * 2 - 1)) << 1
      else 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    var seenZero = false
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var fresh = true
      if (!useDedup) { /* fresh stays true: every gram feeds the mins */ }
      else if (h == 0L) { fresh = !seenZero; seenZero = true }
      else {
        // finalizer-style mix so clustered 60-bit values spread over slots
        var slot = (h ^ (h >>> 33)).toInt & mask
        while (table(slot) != 0L && table(slot) != h) slot = (slot + 1) & mask
        fresh = table(slot) == 0L
        table(slot) = h
      }
      if (fresh) {
        var j = 0
        while (j < numHashes) {
          var hj = mulMod61(mixA(j), h) + mixB(j) // < 2^62, fold once
          if (hj >= P61) hj -= P61
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def computePortableWinnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val off = charOffsets(bytes, bytes.length)
    val nGrams = off.length - 1 - k + 1
    val nWindows = nGrams - w + 1
    if (nWindows <= 0) return empty
    val hashes = gramHashes(bytes, off, k, nGrams)
    // w is small (4 by default): rescanning each window beats deque
    // bookkeeping
    val mins = new Array[Long](nWindows)
    var i = 0
    while (i < nWindows) {
      var m = hashes(i)
      var j = 1
      while (j < w) { if (hashes(i + j) < m) m = hashes(i + j); j += 1 }
      mins(i) = m
      i += 1
    }
    TextSketches.sortedDistinct(mins, nWindows)
  }

  def computePortableGramHashes(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val off = charOffsets(bytes, bytes.length)
    val n = off.length - 1 - k + 1
    if (n <= 0) return empty
    TextSketches.sortedDistinct(gramHashes(bytes, off, k, n), n)
  }
}

/** `array<long>` replayable MinHash signature — see [[PortableSketches]]. */
case class PortableMinHash(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    PortableSketches.computePortableMinHash(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PortableSketches$$.MODULE$$.computePortableMinHash($c, $k, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** `array<long>` replayable distinct gram-hash set — see [[PortableSketches]]. */
case class PortableGramHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_gram_hashes"

  override def nullSafeEval(input: Any): Any =
    PortableSketches.computePortableGramHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PortableSketches$$.MODULE$$.computePortableGramHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** `array<long>` replayable winnowing fingerprint — see [[PortableSketches]]. */
case class PortableWinnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_winnowed_fingerprint"

  override def nullSafeEval(input: Any): Any =
    PortableSketches.computePortableWinnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PortableSketches$$.MODULE$$.computePortableWinnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
