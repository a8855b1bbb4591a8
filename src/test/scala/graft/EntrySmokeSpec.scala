package graft
class EntrySmokeSpec extends SparkSpec {
  test("driver contract: entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("gate list: 190 uniquely named gates, every one with an oracle") {
    val names = SparkEntry.gates.map(_.name)
    // a duplicate name would be dropped silently by the derived maps' toMap
    assert(names.diff(names.distinct).isEmpty, "duplicate gate names")
    assert(names.size == 190)
    assert(SparkEntry.queries.size == 190 && SparkEntry.oracleSql.size == 190)
    assert(SparkEntry.gates.forall(_.oracle.trim.nonEmpty))
  }

  test("gate list: the harness-drive gates Bench totals apart") {
    assert(SparkEntry.gates.filter(_.harness).map(_.name).toSet == Set(
      "q68_tiki_pipeline", "q101_agg_maintenance", "q103_analytics_dag",
      "q104_trends_dag", "q105_fx_rate_dag", "q106_upsert_sink",
      "q108_streaming_dedup", "q110_sessionize_tws", "q111_streaming_funnel",
      "q112_backfill", "q113_streaming_hll", "q114_streaming_cms",
      "q131_span_incremental", "q169_dsv2_stream"))
  }
}
