package graft
package catalog

/** Oracle-SQL fragments shared by several catalog queries, each stated
  * once. A leaf: it reads nothing else in the catalog, so every family can
  * interpolate it into a strict `val` without an initialization cycle. The
  * money-sum fragment sits next to its Spark twin instead
  * ([[graft.functions.Cols.moneySumSql]]).
  */
private[graft] object OracleSql {

  /** The oracle-side twin of [[ops.Shingles.normalize]]'s case mapping:
    * DuckDB `lower()` is the SIMPLE Unicode map while Spark's is FULL
    * lowercasing, whose one unconditional multi-char mapping is U+0130
    * 'İ' → i + U+0307 — pre-expanded here so both engines agree (round-10
    * adversarial sweep). ONE definition, interpolated into every
    * text-normalizing oracle: the next case-mapping divergence gets fixed
    * in exactly one place (round-10 review).
    */
  val lowerTextSql: String =
    "lower(replace(text, 'İ', 'i' || chr(775)))"

  /** Lower-cased text with whitespace runs collapsed to one space and the
    * ends trimmed: the oracle twin of [[ops.Shingles.normalize]]. */
  val normTextSql: String = raw"trim(regexp_replace($lowerTextSql, '\s+', ' ', 'g'))"

  /** The token list of [[normTextSql]], split on single spaces. */
  val tokensSql: String = s"string_split($normTextSql, ' ')"

  /** The user co-activity edge list of [[GraphQueries]]' `coActivityEdges`
    * as two CTEs: `b` (distinct minute, event type, user) and `alias`
    * (distinct `src < dst` user pairs active in the same minute for the
    * same event type). `date_trunc` floors, as the Spark side's
    * [[CatalogInputs.usBucket]] does.
    */
  def coActivityEdgesSql(alias: String): String =
    s"""b AS (
      |  SELECT DISTINCT date_trunc('minute', ts) AS h, event_type, user_id FROM events
      |), $alias AS (
      |  SELECT DISTINCT a.user_id AS src, c.user_id AS dst
      |  FROM b a JOIN b c ON a.h = c.h AND a.event_type = c.event_type
      |    AND a.user_id < c.user_id
      |)""".stripMargin

  /** PageRank iterations `it1..itN` as CTE continuations, each step the
    * scaled-integer update of [[ops.Graph.pageRankTopK]] over edges `e`,
    * out-degrees `deg` and the base rank in `base`, reading `it(i-1)`.
    * Each step opens with `), itI AS (`, so it follows an open `it0` CTE.
    */
  def pageRankStepsSql(iterations: Int): String =
    (1 to iterations).map { i =>
      s"""), it$i AS (
        |  SELECT e.dst AS node, CAST((15 * (SELECT b FROM base)) // 100
        |    + (85 * SUM(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank
        |  FROM e JOIN it${i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1""".stripMargin
    }.mkString("\n")
}
