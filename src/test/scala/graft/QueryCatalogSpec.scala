package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog integrity: duplicate names would silently collapse in the
  * driver-facing Maps; every oracle must belong to a registered query.
  */
class QueryCatalogSpec extends AnyFunSuite {

  test("catalog names are unique") {
    val names = QueryCatalog.all.map(_.name)
    val dupes = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate catalog names: $dupes")
  }

  test("streamingNames all exist in the catalog and carry 'stream' in the name") {
    val names = QueryCatalog.all.map(_.name).toSet
    assert(QueryCatalog.streamingNames.subsetOf(names),
      QueryCatalog.streamingNames -- names)
    // membership drift guard: every catalog entry named *stream* must be
    // declared streaming (a new streaming entry that skips the set would
    // silently lose its bench isolation)
    assert(names.filter(_.contains("stream")) === QueryCatalog.streamingNames)
    // the rule is also how the set is derived, so pin its members too
    assert(QueryCatalog.streamingNames === Set(
      "events_hourly_stream", "events_stream_static_join",
      "events_stream_stream_join", "events_stream_left_join",
      "events_stream_dedup", "dsv2_stream_agg",
      "dedup_incremental_stream", "knn_ivf_incremental_stream"))
  }

  test("storeBuildNames all exist and cover every persisted-store batch entry") {
    val names = QueryCatalog.all.map(_.name).toSet
    assert(QueryCatalog.storeBuildNames.subsetOf(names),
      QueryCatalog.storeBuildNames -- names)
    // membership drift guard (same rationale as streamingNames): every
    // batch entry whose name declares the incremental-store family must be
    // isolation-chunked, or its JVM litter taxes shared-chunk timings again
    val storeish = names.filter(n =>
      (n.contains("incremental") || n.contains("retrain")) && !n.contains("stream"))
    assert(storeish === QueryCatalog.storeBuildNames)
    assert(QueryCatalog.storeBuildNames.intersect(QueryCatalog.streamingNames).isEmpty)
  }

  test("catalog size is pinned at 215 entries") {
    assert(QueryCatalog.all.size === 215)
  }

  // Catalog files may be reorganized freely, but every oracle string must
  // come out byte-identical: SHA-256 over the name-sorted
  // `name \u0000 sql` pairs, newline-joined.
  test("oracle SQL is byte-identical to the pinned digest") {
    val text = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (n, sql) => n + "\u0000" + sql }.mkString("\n")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(digest === "86e5174a0187ca8b9a5c3a1ab296cf793fd87bd0e5cb99786c40b5a8ac9ba29d")
  }

  test("driver maps cover the catalog exactly") {
    assert(SparkEntry.queries.keySet === QueryCatalog.all.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.size ===
      QueryCatalog.all.count(_.oracle.isDefined))
  }
}
