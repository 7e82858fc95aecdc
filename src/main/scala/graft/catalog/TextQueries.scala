package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableSketches.{hash60, hash60Sql}

import CatalogInputs._
import OracleSql._

/** Text and dedup: per-document statistics, language id and quality
  * scores, TF-IDF/BM25 and language-model features, exact and near-dup
  * detection (MinHash, SimHash, n-gram Jaccard, winnowing fingerprints),
  * corpus curation, decontamination, splits and shards.
  *
  * Token oracles share [[OracleSql.tokensSql]]; the MinHash and
  * verified-pair SQL below is also the oracle of the store family
  * ([[graft.QueryCatalogStores]]).
  */
private[graft] object TextQueries {

  /** DuckDB replay of [[ops.Dedup.minhashCandidates]] (k=64, 16 bands,
    * 5-shingles, maxBucket 100, est ≥ 0.25) — the full-recompute oracle.
    * Shared verbatim by `dedup_minhash` AND the `dedup_incremental*`
    * entries: the incremental store's contract is exact equivalence with
    * the full recompute over base ∪ batches, so its oracle IS this SQL.
    * The `docsPred` overload restricts the corpus — the delete entry's
    * contract is equivalence with the full recompute over the SURVIVORS,
    * so its oracle is the same SQL over `documents WHERE <survivors>`.
    */
  private[graft] val minhashCandidatesSql: String = minhashCandidatesSqlOver("TRUE")

  private[graft] def minhashCandidatesSqlOver(docsPred: String): String =
    raw"""WITH t AS (SELECT doc_id, ${normTextSql} AS norm
      |      FROM documents WHERE $docsPred),
      |ga AS (SELECT doc_id, list_distinct([substr(norm, i, 5) FOR i IN range(1, len(norm) - 3)]) AS grams
      |       FROM t WHERE len(norm) >= 5),
      |gh AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
      |       FROM (SELECT doc_id, unnest(grams) AS gram FROM ga)),
      |seeds AS (SELECT i, ('0x' || substr(md5('mixa:' || i), 1, 15))::BIGINT AS a,
      |                 ('0x' || substr(md5('mixb:' || i), 1, 15))::BIGINT AS b
      |          FROM range(64) ii(i)),
      |sigv AS (SELECT doc_id, i, MIN(CAST((a::HUGEINT * h + b) % 2305843009213693951 AS BIGINT)) AS m
      |         FROM gh, seeds GROUP BY 1, 2),
      |sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM sigv GROUP BY 1),
      |banded AS (SELECT doc_id, sig, b, array_to_string(sig[(b*4+1):(b*4+4)], ',') AS bk
      |           FROM sig, range(16) bb(b)),
      |buck AS (SELECT b, bk FROM banded GROUP BY b, bk HAVING COUNT(*) BETWEEN 2 AND 100),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sig AS sig_a, b2.doc_id AS doc_b, b2.sig AS sig_b
      |         FROM banded a JOIN buck USING (b, bk) JOIN banded b2 USING (b, bk)
      |         WHERE a.doc_id < b2.doc_id)
      |SELECT doc_a, doc_b, est_jaccard FROM (
      |  SELECT doc_a, doc_b,
      |    len(list_filter([sig_a[i] = sig_b[i] FOR i IN range(1, 65)], x -> x)) / 64 AS est_jaccard
      |  FROM cand)
      |WHERE est_jaccard >= 0.25""".stripMargin

  /** DuckDB replay of the end-to-end corpus dedup (verified pairs →
    * transitive closure → min-id survivors). Shared verbatim by
    * `dedup_corpus` and `dedup_incremental_corpus` (equivalence contract,
    * as with [[minhashCandidatesSql]]).
    */
  private[graft] lazy val dedupCorpusSql: String =
    s"""WITH RECURSIVE $verifiedPairsCtes,
      |vp AS (SELECT doc_a, doc_b FROM vj WHERE shared / (na + nb - shared) >= 3.1e-1),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM vp UNION SELECT doc_b, doc_a FROM vp),
      |reach(a, b) AS (SELECT a, b FROM edges
      |                UNION
      |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, MIN(b) AS component
      |         FROM (SELECT a, b FROM reach UNION SELECT a, a FROM edges) GROUP BY 1)
      |SELECT d.doc_id, d.lang, d.source
      |FROM documents d LEFT JOIN comp USING (doc_id)
      |WHERE component IS NULL OR component = d.doc_id""".stripMargin

  /** DuckDB CANDIDATE-ALIGNED replay of the verified near-dup pair set
    * (r8 verdict item 4): the same portable minhash signatures, 16×4
    * banding, [2, maxBucket] bucket cap, and integer signature-match floor
    * as [[ops.Dedup.verifiedNearDupPairs]], then exact Jaccard on the
    * md5-60bit distinct gram-hash sets — the oracle recomputes the
    * CANDIDATE set too, so equality holds at ANY corpus scale by
    * construction (a brute-force oracle only matches when LSH recall is
    * total over the corpus's true pairs, which sf0.001 violates —
    * ROUNDLOG r8). `vj` exposes (doc_a, doc_b, shared, na, nb) for the
    * final threshold cut; the LSH recall CONTRACT (catch rate
    * 1-(1-J^4)^16) is documented in COVERAGE.md.
    */
  private[graft] val verifiedPairsCtes: String =
    raw"""t AS (
      |  SELECT doc_id, ${normTextSql} AS norm
      |  FROM documents
      |), gs AS (
      |  SELECT doc_id,
      |    list_distinct([('0x' || substr(md5(substr(norm, i, 5)), 1, 15))::BIGINT
      |                   FOR i IN range(1, len(norm) - 3)]) AS ghs
      |  FROM t WHERE len(norm) >= 5
      |), gh AS (
      |  SELECT doc_id, unnest(ghs) AS h FROM gs
      |), seeds AS (
      |  SELECT i, ('0x' || substr(md5('mixa:' || i), 1, 15))::BIGINT AS a,
      |         ('0x' || substr(md5('mixb:' || i), 1, 15))::BIGINT AS b
      |  FROM range(64) ii(i)
      |), sigv AS (
      |  SELECT doc_id, i, MIN(CAST((a::HUGEINT * h + b) % 2305843009213693951 AS BIGINT)) AS m
      |  FROM gh, seeds GROUP BY 1, 2
      |), sig AS (
      |  SELECT doc_id, list(m ORDER BY i) AS sig FROM sigv GROUP BY 1
      |), banded AS (
      |  SELECT doc_id, sig, b, array_to_string(sig[(b*4+1):(b*4+4)], ',') AS bk
      |  FROM sig, range(16) bb(b)
      |), buck AS (
      |  SELECT b, bk FROM banded GROUP BY b, bk HAVING COUNT(*) BETWEEN 2 AND 100
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, a.sig AS sig_a, b2.doc_id AS doc_b, b2.sig AS sig_b
      |  FROM banded a JOIN buck USING (b, bk) JOIN banded b2 USING (b, bk)
      |  WHERE a.doc_id < b2.doc_id
      |), candf AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE len(list_filter([sig_a[i] = sig_b[i] FOR i IN range(1, 65)], x -> x)) >= 10
      |), vj AS (
      |  SELECT doc_a, doc_b, len(list_intersect(x.ghs, y.ghs)) AS shared,
      |    len(x.ghs) AS na, len(y.ghs) AS nb
      |  FROM candf JOIN gs x ON x.doc_id = doc_a JOIN gs y ON y.doc_id = doc_b
      |)""".stripMargin

  /** DuckDB replay of [[ops.TextAnalysis.fingerprints]] (winnowing k=8,
    * w=4 over md5-60bit character-gram hashes): identical explode →
    * window-min → sorted distinct pipeline, so `fps` is bit-equal to the
    * Spark frame.
    */
  private val fingerprintCtes: String =
    raw"""t AS (SELECT doc_id, text, ${normTextSql} AS norm
      |      FROM documents),
      |base AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_hash, norm,
      |         length(norm) - 7 AS n_grams FROM t WHERE length(norm) - 7 - 3 > 0),
      |g AS (SELECT doc_id, content_hash, n_grams, i,
      |      ('0x' || substr(md5(substr(norm, i, 8)), 1, 15))::BIGINT AS h
      |      FROM base, unnest(range(1, n_grams + 1)) AS u(i)),
      |wm AS (SELECT doc_id, content_hash, n_grams, i,
      |       MIN(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |       FROM g),
      |fps AS (SELECT doc_id, content_hash, list_sort(list_distinct(list(wmin))) AS fingerprint
      |        FROM wm WHERE i <= n_grams - 3 GROUP BY 1, 2)""".stripMargin

  val entries: Seq[CatalogEntry] = Seq(

    // Deterministic portable sampling: hash-bucket the key instead of RNG —
    // reproducible across engines, partitionings, and runs (the correct way
    // to subsample training data); ~1/8 of rows via the first md5 hex char
    CatalogEntry("deterministic_sample",
      (s, d) => T(s, d, "documents")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) <= "1")
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Some("""SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '1'""".stripMargin)),

    CatalogEntry("text_stats",
      (s, d) => ops.TextAnalysis.textStats(docs(s, d)),
      Some("""SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
        |  CAST(length(text) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS avg_word_len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
        |    / length(text) AS upper_ratio
        |FROM documents""".stripMargin)),

    CatalogEntry("token_counts",
      (s, d) => ops.TextAnalysis.tokenCounts(docs(s, d)),
      Some("""SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS lex_tokens
        |FROM documents""".stripMargin)),

    // DuckDB twin of the marker-set argmax: list_intersect dedups exactly
    // like Spark's array_intersect, ties break by sorted language order,
    // zero hits => 'und'
    CatalogEntry("lang_id",
      (s, d) => ops.TextAnalysis.languageId(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    ${normTextSql} AS norm,
        |    ${tokensSql} AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein'])) AS s_de,
        |    len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) AS s_en,
        |    len(list_intersect(toks, ['el','los','las','es','en','con','una','por'])) AS s_es,
        |    len(list_intersect(toks, ['le','la','les','et','est','pas','avec','une'])) AS s_fr,
        |    ((CASE WHEN contains(norm, '的') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '是') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '在') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '了') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '和') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '有') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '不') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '我') THEN 1 ELSE 0 END)) AS s_zh
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN best > 0 THEN
        |    CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
        |         WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
        |         ELSE 'zh' END
        |  ELSE 'und' END AS pred_lang,
        |  greatest(best, 0) AS marker_hits
        |FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s)""".stripMargin)),

    // double literals written in e-notation (3e-1 not 0.3) — DuckDB types
    // plain decimal literals as DECIMAL and decimal arithmetic would diverge
    // from Spark's double math in the last ulp; FP op order mirrors
    // TextAnalysis.qualityScore exactly
    CatalogEntry("doc_quality",
      (s, d) => ops.TextAnalysis.qualityScore(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id, text,
        |    ${tokensSql} AS toks,
        |    length(text) AS n_chars
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, n_chars, len(toks) AS n_words,
        |    len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) AS stop_hits,
        |    CAST(n_chars - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / n_chars AS punct_ratio,
        |    CAST(n_chars AS DOUBLE) / len(toks) AS avg_word_len
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(stop_hits AS DOUBLE) / n_words AS stopword_ratio,
        |  least(CAST(n_words AS DOUBLE) / 5e1, 1e0) * 3e-1
        |  + greatest(0e0, 1e0 - punct_ratio * 5e0) * 3e-1
        |  + (CASE WHEN avg_word_len BETWEEN 3e0 AND 1e1 THEN 1e0 ELSE 5e-1 END) * 2e-1
        |  + least((CAST(stop_hits AS DOUBLE) / n_words) * 1e1, 1e0) * 2e-1 AS quality
        |FROM m""".stripMargin)),

    // weight rounded to 9dp in BOTH engines: libm ln() may differ from
    // java.lang.Math.log in the last ulp; ranking runs on full precision
    CatalogEntry("tfidf_top_terms",
      (s, d) => ops.TextAnalysis.tfidfTopTerms(docs(s, d), m = 5)
        .withColumn("weight", round(col("weight"), 9)),
      Some(raw"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(${tokensSql}) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), w AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * ln((SELECT COUNT(*) + 1e0 FROM documents) / (dfreq.df + 1e0)) AS weight
        |  FROM tf JOIN dfreq USING (term)
        |)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, round(weight, 9) AS weight
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rank FROM w)
        |WHERE rank <= 5""".stripMargin)),

    // Winnowing fingerprints (md5-60bit gram hashes; the one-pass kernel
    // is proven equal to the explode → window-min algorithm the oracle
    // states by ReplaySpec), projected to scalars: set size +
    // order-stable digest of the sorted hashes.
    CatalogEntry("doc_fingerprints",
      (s, d) => ops.TextAnalysis.fingerprints(docs(s, d))
        .select(col("doc_id"), col("content_hash"),
          size(col("fingerprint")).cast("long").as("n_fp"),
          hash60(concat_ws(",", col("fingerprint").cast("array<string>")))
            .as("fp_digest")),
      Some(s"""WITH $fingerprintCtes
        |SELECT doc_id, content_hash, CAST(len(fingerprint) AS BIGINT) AS n_fp,
        |  ${hash60Sql("array_to_string(fingerprint, ',')")} AS fp_digest
        |FROM fps""".stripMargin)),

    CatalogEntry("fingerprint_overlap",
      (s, d) => ops.TextAnalysis.fingerprintOverlapPairs(docs(s, d)),
      Some(s"""WITH $fingerprintCtes,
        |inv AS (SELECT doc_id, unnest(fingerprint) AS fp FROM fps),
        |sizes AS (SELECT doc_id, len(fingerprint) AS n_fp FROM fps),
        |bk AS (SELECT fp FROM inv GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 200),
        |capped AS (SELECT doc_id, fp FROM inv JOIN bk USING (fp)),
        |shr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        |        FROM capped a JOIN capped b USING (fp) WHERE a.doc_id < b.doc_id
        |        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT doc_a, doc_b, shared, overlap FROM (
        |  SELECT doc_a, doc_b, shared, shared / least(sa.n_fp, sb.n_fp) AS overlap
        |  FROM shr JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b)
        |WHERE overlap >= 3e-1""".stripMargin)),

    CatalogEntry("dedup_exact",
      (s, d) => ops.Dedup.exactGroups(docs(s, d)),
      Some("""SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
        |  COUNT(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin)),

    CatalogEntry("dedup_exact_keep_first",
      (s, d) => ops.Dedup.dropExactDuplicates(docs(s, d)),
      Some("""SELECT doc_id, text, lang, source, n_chars
        |FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM documents) t
        |WHERE rn = 1""".stripMargin)),

    // MinHash+LSH candidates via the REPLAYABLE kernel (universal-hash
    // permutations mod 2^61-1 over md5-60bit gram hashes — see
    // graft.functions.PortableSketches): the oracle recomputes the
    // signatures with HUGEINT arithmetic and replays banding, bucket caps,
    // and the est-Jaccard fraction, pinning the candidate generator itself.
    // est values are multiples of 1/64 (exact doubles), so the >= 0.25 cut
    // cannot straddle engines.
    CatalogEntry("dedup_minhash",
      (s, d) => ops.Dedup.minhashCandidates(docs(s, d),
        k = 64, bands = 16, shingleLen = 5, maxBucket = 100, minEstJaccard = 0.25),
      Some(minhashCandidatesSql)),

    // LSH candidates verified by exact gram-set Jaccard, via the REPLAYABLE
    // kernel (r8 verdict item 4): the oracle recomputes candidates AND the
    // verify, so equality is deterministic at any SF — a brute-force oracle
    // would additionally assert total LSH recall, which is probabilistic
    // (catch rate 1-(1-J^4)^16: ~0.999 at J=0.8, ~0.14 at J=0.31) and
    // provably fails on tiny corpora (sf0.001 has 5 true pairs in the
    // recall gap; ROUNDLOG r8). Recall contract documented in COVERAGE.md.
    CatalogEntry("dedup_minhash_verified",
      (s, d) => ops.Dedup.verifiedNearDupPairs(docs(s, d),
        threshold = 0.31, k = 64, bands = 16, shingleLen = 5, maxBucket = 100),
      Some(s"""WITH $verifiedPairsCtes
        |SELECT doc_a, doc_b, shared / (na + nb - shared) AS jaccard
        |FROM vj WHERE shared / (na + nb - shared) >= 3.1e-1""".stripMargin)),

    // Corpus dedup end-to-end, oracle-checked: VERIFIED near-dup pairs
    // (exact Jaccard >= 0.31 over the candidate-aligned replayable pair
    // set of dedup_minhash_verified) → connected components → one survivor
    // (min id) per cluster + all singletons. The oracle replays the
    // components with a recursive transitive closure over the same pair
    // set, so the gate pins the candidate machinery, the exact verify, AND
    // the component/survivor logic (both the driver union-find and the
    // distributed min-label path produce min-id components by
    // construction) — deterministically at any SF.
    CatalogEntry("dedup_corpus",
      (s, d) => {
        val dd = docs(s, d)
        val pairs = ops.Dedup.verifiedNearDupPairs(dd,
          threshold = 0.31, k = 64, bands = 16, shingleLen = 5, maxBucket = 100)
        ops.Dedup.dedupCorpus(dd, pairs).select(col("doc_id"), col("lang"), col("source"))
      },
      Some(dedupCorpusSql)),

    // SimHash near-dup pairs, 60-bit over md5 token hashes: the oracle
    // recomputes the vote sums, the bit packing, the 4×15-bit pigeonhole
    // bands, the bucket cap, and the exact Hamming verify.
    CatalogEntry("dedup_simhash",
      (s, d) => ops.Dedup.simhashPairs(docs(s, d), maxHamming = 3, maxBucket = 200),
      Some(raw"""WITH t AS (SELECT doc_id, ${normTextSql} AS norm
        |      FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM t),
        |tokh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |         FROM tok WHERE length(tok) > 0),
        |votes AS (SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM tokh, range(60) ii(i) GROUP BY 1, 2),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN v >= 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |       FROM votes GROUP BY 1),
        |banded AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bv
        |           FROM sh, range(4) bb(b)),
        |buck AS (SELECT b, bv FROM banded GROUP BY b, bv HAVING COUNT(*) BETWEEN 2 AND 200)
        |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
        |FROM banded a JOIN buck USING (b, bv) JOIN banded b2 USING (b, bv)
        |WHERE a.doc_id < b2.doc_id AND bit_count(xor(a.simhash, b2.simhash)) <= 3""".stripMargin)),

    // oracle replays the exact pipeline on gram STRINGS where Spark uses
    // 64-bit gram hashes (TextSketches.ngramHashes) — identical results
    // barring an xxhash64 collision between distinct grams (P ~ n²/2⁶⁵,
    // negligible at any SF the gate runs). Jaccard division is the same
    // int/int → double op on both sides, so no rounding is needed; the
    // threshold literal is e-notation to force DOUBLE typing in DuckDB.
    CatalogEntry("ngram_jaccard",
      (s, d) => ops.Dedup.ngramJaccardPairs(docs(s, d),
        n = 3, threshold = 0.01, maxBucket = 100),
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    ${tokensSql} AS toks
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
        |        FOR i IN range(1, len(toks) - 1)]) AS gram
        |    FROM t)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1
        |), buck AS (
        |  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 100
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        |  FROM g a JOIN buck USING (gram) JOIN g b USING (gram)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, shared / (sa.n + sb.n - shared) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE shared / (sa.n + sb.n - shared) >= 1e-2""".stripMargin)),

    // Benchmark decontamination (ops.Decontamination): doc_id % 10 == 0
    // plays the eval corpus; training docs sharing any 8-gram are flagged
    CatalogEntry("decontaminate",
      (s, d) => {
        val all = docs(s, d)
        ops.Decontamination.contaminated(
          all.filter(col("doc_id") % 10 =!= 0),
          all.filter(col("doc_id") % 10 === 0), n = 8)
      },
      Some(raw"""WITH g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
        |        FOR i IN range(1, len(toks) - 6)]) AS gram
        |    FROM (SELECT doc_id,
        |            ${tokensSql} AS toks
        |          FROM documents))
        |), bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0)
        |SELECT doc_id, COUNT(*) AS shared_grams
        |FROM g JOIN bench USING (gram)
        |WHERE doc_id % 10 <> 0
        |GROUP BY doc_id""".stripMargin)),

    // Stratified deterministic sampling: per-group rates from the md5
    // hex-prefix bucket (reproducible across engines/partitionings — same
    // trick as deterministic_sample, different rate per stratum)
    CatalogEntry("stratified_sample",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 2)
        docs(s, d)
          .filter(when(col("lang") === "en", h <= "7f").otherwise(h <= "19"))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE CASE WHEN lang = 'en'
        |  THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '7f'
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19' END""".stripMargin)),

    // PII redaction: deterministic synthetic PII appended (the corpus has
    // none), then email + long-digit-run scrubbing. RE2-safe patterns run
    // identically in Java regex and DuckDB; DuckDB needs the 'g' flag for
    // replace-all (Spark's regexp_replace is global by default).
    CatalogEntry("pii_redact",
      (s, d) => docs(s, d).select(col("doc_id"),
        regexp_replace(regexp_replace(
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 55512"), col("doc_id").cast("string")),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[0-9]{6,}", "<NUM>").as("redacted")),
      Some("""SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com or call 55512' || CAST(doc_id AS VARCHAR),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM documents""".stripMargin)),

    // Sequence packing for context-window assembly (ops.Packing scaladoc)
    CatalogEntry("pack_sequences",
      (s, d) => ops.Packing.packSequences(docs(s, d), capacity = 8192),
      // start_offset needs the explicit BIGINT cast: DuckDB's SUM(INTEGER)
      // yields HUGEINT, which pandas renders float64 and the driver's
      // dtype-sensitive value hash then diverges from Spark's int64
      Some("""WITH w AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS size,
        |    CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS start_offset
        |  FROM documents)
        |SELECT source, doc_id, size, start_offset,
        |  start_offset // 8192 AS bin_id
        |FROM w""".stripMargin)),

    // Gopher-style repetition signals (TextAnalysis.repetitionRatios):
    // duplicate word-n-gram fractions; oracle rebuilds the gram lists on
    // strings where Spark uses the one-pass hash kernel
    CatalogEntry("repetition_ratio",
      (s, d) => ops.TextAnalysis.repetitionRatios(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    ${tokensSql} AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, len(toks) AS n_words,
        |    [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))] AS g2,
        |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] AS g3
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CASE WHEN n_words - 1 > 0
        |    THEN 1e0 - len(list_distinct(g2)) / (n_words - 1) ELSE 0e0 END AS dup_2gram_frac,
        |  CASE WHEN n_words - 2 > 0
        |    THEN 1e0 - len(list_distinct(g3)) / (n_words - 2) ELSE 0e0 END AS dup_3gram_frac
        |FROM g""".stripMargin)),

    // C4-style hard quality filter with per-rule audit booleans
    CatalogEntry("quality_filter",
      (s, d) => ops.TextAnalysis.qualityFilter(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id, text,
        |    ${normTextSql} AS norm,
        |    ${tokensSql} AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(toks) >= 10 AS enough_words,
        |    regexp_matches(text, '[.!?]\s*$$') AS terminal_punct,
        |    CAST(length(norm) AS DOUBLE) / len(toks) BETWEEN 3e0 AND 1e1 AS sane_word_len,
        |    list_max(list_transform(toks, x -> length(x))) <= 30 AS no_giant_word,
        |    len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) > 0 AS has_stopword
        |  FROM t
        |)
        |SELECT doc_id, enough_words, terminal_punct, sane_word_len, no_giant_word, has_stopword,
        |  enough_words AND terminal_punct AND sane_word_len AND no_giant_word AND has_stopword AS keep
        |FROM m""".stripMargin)),

    // Corpus bigram LM counts with per-w1 conditional probabilities; the
    // zipped double-unnest is DuckDB's positional bigram idiom
    CatalogEntry("bigram_lm",
      (s, d) => ops.TextAnalysis.bigramConditionals(docs(s, d), minCount = 5),
      Some(raw"""WITH t AS (
        |  SELECT ${tokensSql} AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM t WHERE len(toks) >= 2
        |), c AS (
        |  SELECT w1, w2, COUNT(*) AS cnt FROM bg
        |  WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2
        |)
        |SELECT w1, w2, cnt,
        |  cnt / SUM(cnt) OVER (PARTITION BY w1) AS cond_p
        |FROM c QUALIFY cnt >= 5""".stripMargin)),

    // LM perplexity filter: per-doc avg -log2 P(w2|w1) under the corpus
    // bigram model (TextAnalysis.perplexityScores); 4-dp rounding absorbs
    // libm/summation-order noise across engines
    CatalogEntry("perplexity_score",
      (s, d) => ops.TextAnalysis.perplexityScores(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    ${tokensSql} AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM t WHERE len(toks) >= 2
        |), bgf AS (
        |  SELECT doc_id, w1, w2 FROM bg WHERE length(w1) > 0 AND length(w2) > 0
        |), c AS (
        |  SELECT w1, w2, COUNT(*) AS cnt FROM bgf GROUP BY 1, 2
        |), lm AS (
        |  SELECT w1, w2, cnt / SUM(cnt) OVER (PARTITION BY w1) AS cond_p FROM c
        |)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  round(AVG(-log2(cond_p)), 4) AS bits_per_bigram
        |FROM bgf JOIN lm USING (w1, w2)
        |GROUP BY 1""".stripMargin)),

    // End-to-end corpus curation (ops.CorpusPipeline): quality gate → exact
    // dedup → decontamination vs the %10 benchmark slice → split buckets,
    // ALL replayed by the oracle — the integration check over four stages
    CatalogEntry("corpus_curation",
      (s, d) => {
        val all = docs(s, d)
        ops.CorpusPipeline.curate(
          all.filter(col("doc_id") % 10 =!= 0),
          all.filter(col("doc_id") % 10 === 0), n = 8,
          // the synthetic corpus is unpunctuated word soup — the C4
          // terminal-punct rule would empty it (see quality_filter audit)
          requireTerminalPunct = false)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("total_chars"))
      },
      Some(raw"""WITH train AS (
        |  SELECT * FROM documents WHERE doc_id % 10 <> 0
        |), t AS (
        |  SELECT doc_id, text,
        |    ${normTextSql} AS norm,
        |    ${tokensSql} AS toks
        |  FROM train
        |), q AS (
        |  SELECT doc_id FROM t
        |  WHERE len(toks) >= 10
        |    AND CAST(length(norm) AS DOUBLE) / len(toks) BETWEEN 3e0 AND 1e1
        |    AND list_max(list_transform(toks, x -> length(x))) <= 30
        |    AND len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) > 0
        |), d AS (
        |  SELECT doc_id, n_chars FROM (
        |    SELECT doc_id, n_chars,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM train JOIN q USING (doc_id)) x
        |  WHERE rn = 1
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
        |        FOR i IN range(1, len(toks) - 6)]) AS gram
        |    FROM t JOIN d USING (doc_id))
        |), bench AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest([array_to_string(toks[i:i+7], ' ')
        |        FOR i IN range(1, len(toks) - 6)]) AS gram
        |    FROM (SELECT ${tokensSql} AS toks
        |          FROM documents WHERE doc_id % 10 = 0))
        |), contam AS (
        |  SELECT DISTINCT doc_id FROM g JOIN bench USING (gram)
        |), clean AS (
        |  SELECT d.doc_id, d.n_chars FROM d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)
        |)
        |SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0a' THEN 'test'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14' THEN 'val'
        |            ELSE 'train' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM clean GROUP BY 1""".stripMargin)),

    // Reproducible corpus shuffle + sharding: global permutation ordered by
    // a seeded hash (no rand() — same order on any engine/cluster/run),
    // then round-robin shard assignment with per-shard accounting. The md5
    // sort key makes the permutation oracle-replayable. Positions come
    // from the DISTRIBUTED bucket-rank machinery under a constant group:
    // ordering by (numeric 15-hex-char prefix, full key) equals ordering
    // by the full key (fixed-length lowercase hex ⇒ lexicographic =
    // numeric), so the bucket function fans the corpus out instead of the
    // old single-task row_number window.
    CatalogEntry("shuffle_shards",
      (s, d) => {
        val keyed = docs(s, d)
          .select(col("doc_id"), col("n_chars"),
            md5(concat(lit("seed42:"), col("doc_id").cast("string"))).as("shuffle_key"))
          .withColumn("key_num", conv(substring(col("shuffle_key"), 1, 15), 16, 10)
            .cast("long"))
          .withColumn("one", lit("all"))
        // pos stays LONG: an int cast would wrap past 2^31 documents —
        // the exact scale this distributed form exists for
        ops.Distribution.groupedRanks(keyed, "one", col("key_num"),
            Seq(col("shuffle_key"), col("n_chars")))
          .withColumn("pos", col("rank"))
          .withColumn("shard", (col("pos") - 1) % 8)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("t1").cast("long")).as("total_chars"),
            min(col("pos")).as("first_pos"))
      },
      Some("""WITH s AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR))) AS pos
        |  FROM documents
        |)
        |SELECT (pos - 1) % 8 AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
        |  MIN(pos) AS first_pos
        |FROM s GROUP BY 1""".stripMargin)),

    // Deterministic hash-based train/val/test assignment with per-split
    // accounting — reproducible across engines and partitionings
    CatalogEntry("dataset_split",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 2)
        docs(s, d)
          .withColumn("split",
            when(h < "0a", "test").when(h < "14", "val").otherwise("train"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("total_chars"))
      },
      Some("""WITH s AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0a' THEN 'test'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14' THEN 'val'
        |              ELSE 'train' END AS split,
        |    n_chars
        |  FROM documents)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM s GROUP BY 1""".stripMargin)),

    // Integer-bucket document length histogram (500-char bins; integer
    // division on both sides — no float bucket-boundary ambiguity)
    CatalogEntry("doc_length_histogram",
      (s, d) => docs(s, d)
        .groupBy(expr("n_chars div 500").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars")),
      Some("""SELECT CAST(n_chars // 500 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1""".stripMargin)),

    // Count-Min sketch token frequencies, replayable: d=4 rows × w=32
    // buckets of md5-hash counters; the estimate is the min over rows —
    // always >= the true count, over only on collision. Counters are built
    // from pre-aggregated token counts (identical arithmetic to
    // per-occurrence increments, and the map-side-combinable shape a
    // 100 TB stream would use — CMS rows merge by addition). The oracle
    // recomputes the sketch and both engines exhibit the same
    // overestimates.
    CatalogEntry("cms_token_freq",
      (s, d) => {
        val toks = docs(s, d)
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        val cnt = toks.groupBy(col("token")).agg(count(lit(1)).as("true_count"))
        val placed = cnt.select(col("token"), col("true_count"),
          explode(array((0 until 4).map(j => struct(lit(j).as("j"),
            (hash60(concat(lit(s"cms$j:"), col("token"))) % 32).as("bucket"))): _*))
            .as("p"))
          .select(col("token"), col("true_count"), col("p.j"), col("p.bucket"))
        val counters = placed.groupBy(col("j"), col("bucket"))
          .agg(sum(col("true_count")).as("c"))
        placed.join(counters, Seq("j", "bucket"))
          .groupBy(col("token"), col("true_count"))
          .agg(min(col("c")).as("cms_est"))
      },
      Some("""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |), cnt AS (
        |  SELECT token, COUNT(*) AS true_count FROM tok WHERE token <> '' GROUP BY 1
        |), placed AS (
        |  SELECT token, true_count, j,
        |    ('0x' || substr(md5('cms' || j || ':' || token), 1, 15))::BIGINT % 32 AS bucket
        |  FROM cnt, (SELECT unnest([0,1,2,3]) AS j)
        |), counters AS (
        |  SELECT j, bucket, CAST(SUM(true_count) AS BIGINT) AS c FROM placed GROUP BY 1, 2
        |)
        |SELECT p.token, p.true_count, MIN(c.c) AS cms_est
        |FROM placed p JOIN counters c ON p.j = c.j AND p.bucket = c.bucket
        |GROUP BY 1, 2""".stripMargin)),

    // Shannon token entropy per document (the vocabulary-diversity quality
    // signal): H = log2(n) - sum(c*log2(c))/n over per-doc token counts —
    // two codegen hash aggregates, no window. Per-doc float sums differ
    // across engines only in accumulation order -> round(,6) parity
    // (stats_suite convention).
    CatalogEntry("token_entropy",
      (s, d) => {
        val tok = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).cast("long").as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            round(log2(sum(col("c"))) - sum(col("c") * log2(col("c"))) / sum(col("c")), 6)
              .as("entropy"))
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), tc AS (
        |  SELECT doc_id, token, COUNT(*) AS c FROM tok WHERE token <> '' GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
        |  round(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy
        |FROM tc GROUP BY 1""".stripMargin)),

    // Okapi BM25 retrieval scores against a fixed query term set. Every
    // arithmetic step is a double op the oracle mirrors verbatim (literals
    // cast to double on the SQL side — DuckDB would otherwise multiply
    // BIGINT·DECIMAL exactly where Spark multiplies doubles); only the
    // per-doc sum over matched terms is order-dependent -> round(,6).
    CatalogEntry("bm25_scores",
      (s, d) => ops.TextAnalysis.bm25Scores(docs(s, d),
        queryTerms = Seq("spark", "join", "window", "shuffle")),
      Some(raw"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(${tokensSql}) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT COUNT(*) FROM documents) AS n,
        |         (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(DISTINCT doc_id) FROM dl) AS avgdl
        |), qdf AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
        |  WHERE term IN ('spark', 'join', 'window', 'shuffle') GROUP BY 1
        |)
        |SELECT tf.doc_id,
        |  round(SUM(ln(1e0 + (stats.n - qdf.df + 0.5) / (qdf.df + 0.5))
        |    * ((CAST(tf.tf AS DOUBLE) * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl))))), 6) AS bm25,
        |  CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM tf JOIN qdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY 1""".stripMargin)),

    // Per-source KL divergence from the corpus unigram distribution — the
    // data-mixture drift diagnostic. Probabilities are exact-count double
    // divisions; the per-source sum rounds to 6 (accumulation order).
    CatalogEntry("source_kl_divergence",
      (s, d) => ops.TextAnalysis.sourceKlDivergence(docs(s, d)),
      Some(raw"""WITH toks AS (
        |  SELECT source,
        |    unnest(${tokensSql}) AS term
        |  FROM documents WHERE source IS NOT NULL
        |), tf AS (
        |  SELECT source, term, COUNT(*) AS cnt FROM toks WHERE length(term) > 0 GROUP BY 1, 2
        |), st AS (SELECT source, SUM(cnt) AS total FROM tf GROUP BY 1
        |), gt AS (SELECT term, SUM(cnt) AS gcnt FROM tf GROUP BY 1
        |), g AS (SELECT SUM(cnt) AS gtotal FROM tf)
        |SELECT tf.source,
        |  round(SUM((CAST(tf.cnt AS DOUBLE) / st.total)
        |    * ln((CAST(tf.cnt AS DOUBLE) / st.total) / (CAST(gt.gcnt AS DOUBLE) / g.gtotal))), 6) AS kl,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM tf JOIN st USING (source) JOIN gt USING (term) CROSS JOIN g
        |GROUP BY 1""".stripMargin)),

    // Boilerplate mining: word bigrams in ≥5% of documents. The threshold
    // compares via integer cross-multiplication on both sides — see the
    // operator scaladoc for the double-ceil tie hazard it avoids.
    CatalogEntry("boilerplate_ngrams",
      (s, d) => ops.TextAnalysis.boilerplateGrams(docs(s, d), n = 2, minDocPct = 5),
      Some(raw"""WITH toks AS (
        |  SELECT doc_id, ${tokensSql} AS t
        |  FROM documents
        |), grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[j:j+1], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) u
        |  WHERE len(t) >= 2
        |)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY 1
        |HAVING COUNT(*) * 100 >= 5 * (SELECT COUNT(*) FROM documents)""".stripMargin)),

    // Training-mixture weights with temperature sampling (alpha = 0.5):
    // per-source sampling weight ∝ size^alpha — the standard multilingual/
    // multi-source rebalancing rule. sqrt is IEEE-exact in both engines;
    // only the 20-term normalizing sum is order-sensitive -> round(,6).
    // One tiny aggregate + a 1-row broadcast: nothing here grows with
    // corpus size except the first groupBy.
    CatalogEntry("mixture_weights",
      (s, d) => {
        val src = docs(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars"))
        val tot = src.agg(sum(sqrt(col("n_chars").cast("double"))).as("tw"))
        src.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_chars"),
            round(sqrt(col("n_chars").cast("double")) / col("tw"), 6).as("mix_weight"))
      },
      Some("""WITH src AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT source, n_docs, n_chars, sqrt(CAST(n_chars AS DOUBLE)) AS raw_w FROM src
        |)
        |SELECT source, n_docs, n_chars,
        |  round(raw_w / (SELECT SUM(raw_w) FROM w), 6) AS mix_weight
        |FROM w""".stripMargin)),

    // Passage-level exact dedup: fixed 20-token chunks per document,
    // repeated chunks surfaced with occurrence/document counts — the
    // within-and-across-document duplication signal paragraph dedup needs
    // when documents themselves are distinct. The chunking lambda runs per
    // CHUNK over a materialized token array (ROUNDLOG lesson 1 — never per
    // token); the aggregate shuffles chunk text once, and at 100 TB the
    // groupBy key would be the chunk md5, not the text.
    CatalogEntry("passage_dedup",
      (s, d) => docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, CAST(ceil(size(ts) / 20.0) AS INT) - 1), " +
            "i -> array_join(slice(ts, i * 20 + 1, 20), ' '))")).as("chunk"))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occurrences") > 1),
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), chunks AS (
        |  SELECT doc_id, array_to_string(ts[(i*20+1):(i*20+20)], ' ') AS chunk
        |  FROM toks, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ts)/20.0) AS INT))) AS i) g
        |)
        |SELECT chunk, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        |FROM chunks GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin)),

    // Collocation mining: association lift (PMI sans log — same ranking,
    // no libm) of bigrams vs their unigram frequencies
    CatalogEntry("collocation_pmi",
      (s, d) => ops.TextAnalysis.collocations(docs(s, d), minCount = 5, topK = 20)
        .withColumn("rank", col("rank").cast("long")),
      Some(raw"""WITH t AS (
        |  SELECT ${tokensSql} AS toks
        |  FROM documents
        |), uni AS (
        |  SELECT w, COUNT(*) AS wc FROM (SELECT unnest(toks) AS w FROM t) u
        |  WHERE length(w) > 0 GROUP BY 1
        |), n AS (SELECT CAST(SUM(wc) AS BIGINT) AS n_uni FROM uni
        |), bg AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM t WHERE len(toks) >= 2
        |), c AS (
        |  SELECT w1, w2, COUNT(*) AS c_ab FROM bg
        |  WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2
        |  HAVING COUNT(*) >= 5
        |), sc AS (
        |  SELECT c.w1, c.w2, c.c_ab,
        |    (CAST(c.c_ab AS DOUBLE) * (SELECT n_uni FROM n))
        |      / (CAST(ua.wc AS DOUBLE) * ub.wc) AS lift
        |  FROM c JOIN uni ua ON c.w1 = ua.w JOIN uni ub ON c.w2 = ub.w
        |)
        |SELECT CAST(row_number() OVER (ORDER BY lift DESC, w1, w2) AS BIGINT) AS rank,
        |  w1, w2, c_ab, lift
        |FROM sc QUALIFY rank <= 20""".stripMargin)),

    // Vocabulary head with the Zipf invariant rank·freq (exact integer) —
    // corpus distribution sanity check for curation pipelines
    CatalogEntry("zipf_ranks",
      (s, d) => ops.TextAnalysis.zipfRanks(docs(s, d), topK = 50),
      Some(raw"""WITH uni AS (
        |  SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(${tokensSql}) AS w
        |    FROM documents) u
        |  WHERE length(w) > 0 GROUP BY 1
        |), top AS (
        |  SELECT w, freq, row_number() OVER (ORDER BY freq DESC, w) AS rank FROM uni
        |  QUALIFY rank <= 50
        |)
        |SELECT CAST(rank AS BIGINT) AS rank, w AS word, freq,
        |  CAST(rank * freq AS BIGINT) AS rank_freq,
        |  CAST(freq AS DOUBLE) / (SELECT MAX(freq) FROM top) AS ratio_to_top
        |FROM top""".stripMargin)),

    // Exact stratified holdout: the validation set gets EXACTLY 50 docs,
    // apportioned across sources by largest remainder (integer-only), and
    // each source contributes its `seats` lowest-(md5-rank) docs — a
    // replayable hash order, so the oracle re-derives the identical split.
    // This is the mixture-exact split a training pipeline needs when
    // "10%-ish per shard" isn't acceptable.
    CatalogEntry("stratified_split_exact",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("hkey"), col("doc_id"))
        val weights = docs(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val quotas = ops.Distribution.quotaAllocation(
            weights, "source", "n_docs", seats = 50L)
          .select(col("key").as("source"), col("seats"))
        docs(s, d)
          .withColumn("hkey", hash60(concat(lit("split:"),
            col("doc_id").cast("string"))))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .join(broadcast(quotas), "source")
          .select(col("doc_id"), col("source"),
            when(col("rnk") <= col("seats"), "val").otherwise("train").as("split"))
      },
      Some(s"""WITH w AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
        |), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tw FROM w
        |), b AS (
        |  SELECT source, (50 * n_docs) // (SELECT tw FROM tot) AS base_seats,
        |    50 * n_docs - ((50 * n_docs) // (SELECT tw FROM tot)) * (SELECT tw FROM tot) AS rem
        |  FROM w
        |), l AS (SELECT CAST(50 - SUM(base_seats) AS BIGINT) AS leftover FROM b
        |), q AS (
        |  SELECT source, CAST(base_seats
        |    + (CASE WHEN row_number() OVER (ORDER BY rem DESC, source NULLS FIRST)
        |              <= (SELECT leftover FROM l) THEN 1 ELSE 0 END) AS BIGINT) AS seats
        |  FROM b
        |), r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ${hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")}, doc_id)
        |      AS BIGINT) AS rnk
        |  FROM documents
        |)
        |SELECT r.doc_id, r.source,
        |  CASE WHEN r.rnk <= q.seats THEN 'val' ELSE 'train' END AS split
        |FROM r JOIN q USING (source)""".stripMargin)),

    // Inverted index profile: per term, document frequency, total term
    // frequency, and an order-stable digest of the sorted posting list —
    // the shuffle shape of index building (explode -> one aggregate), with
    // the posting list pinned cross-engine via the md5-60bit digest instead
    // of shipping arrays through the compare (whose sort pandas can't do)
    CatalogEntry("inverted_index",
      (s, d) => {
        val withToks = docs(s, d)
          .repartition(col("doc_id"))
          .withColumn("norm", ops.Shingles.normalize(col("text")))
          .withColumn("toks", ops.Shingles.tokensOfNorm(col("norm")))
        withToks
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
            hash60(concat_ws(",",
              sort_array(collect_list(col("doc_id"))).cast("array<string>")))
              .as("postings_digest"))
          .filter(col("df") >= 5)
      },
      Some(raw"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(${tokensSql}) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT term, doc_id, COUNT(*) AS tf FROM toks
        |  WHERE length(term) > 0 GROUP BY 1, 2
        |)
        |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
        |  ${hash60Sql("array_to_string(list_sort(list(doc_id)), ',')")} AS postings_digest
        |FROM tf GROUP BY 1 HAVING COUNT(*) >= 5""".stripMargin)),

    // Blocklist screening (the policy-filter mechanism of a curation
    // pipeline): per-doc hit count against a word blocklist via the same
    // marker-intersect machinery as lang_id; 'spamword' exercises the
    // zero-hit path
    CatalogEntry("blocklist_hits",
      (s, d) => {
        val blocklist = Seq("slow", "dup", "spamword")
        docs(s, d)
          .withColumn("norm", ops.Shingles.normalize(col("text")))
          .withColumn("toks", ops.Shingles.tokensOfNorm(col("norm")))
          .select(col("doc_id"),
            size(array_intersect(col("toks"), lit(blocklist.toArray)))
              .cast("long").as("n_distinct_hits"),
            size(filter(col("toks"), t => t.isin(blocklist.map(lit(_)): _*)))
              .cast("long").as("n_total_hits"))
          .withColumn("flagged", col("n_distinct_hits") > 0)
      },
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    ${tokensSql} AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(list_intersect(toks, ['slow','dup','spamword'])) AS BIGINT) AS n_distinct_hits,
        |  CAST(len(list_filter(toks, x -> x IN ('slow','dup','spamword'))) AS BIGINT) AS n_total_hits,
        |  len(list_intersect(toks, ['slow','dup','spamword'])) > 0 AS flagged
        |FROM t""".stripMargin)),
  )
}
