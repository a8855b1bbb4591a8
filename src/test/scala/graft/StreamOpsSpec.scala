package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("stream-stream interval join enriches events with the in-window rate") {
    implicit val sqlCtx = spark.sqlContext
    val evs = MemoryStream[(Long, Timestamp, String)]
    val rates = MemoryStream[(Timestamp, String, Double)]
    val joined = StreamOps.intervalEnrich(
      evs.toDF().toDF("event_id", "ets", "ccy"),
      "ets",
      rates.toDF().toDF("rts", "rccy", "rate"),
      "rts",
      joinKeys = (e, r) => e("ccy") === r("rccy"),
      tolerance = "5 MINUTES",
      eventsWatermark = "10 minutes", refWatermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      rates.addData((ts(0), "VND", 25000.0), (ts(10), "VND", 25100.0))
      evs.addData((1L, ts(2), "VND"))   // in window of ts(0) rate
      q.processAllAvailable()
      // advance both watermarks far enough to emit matched + unmatched rows
      rates.addData((ts(45), "VND", 25200.0))
      evs.addData((9L, ts(45), "EUR")) // no matching rate stream key
      q.processAllAvailable()
      evs.addData((10L, ts(59), "EUR")); rates.addData((ts(59), "VND", 25300.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(5)) null else r.getDouble(5))).toMap
      assert(rows.get(1L).contains(25000.0), s"got $rows")
    } finally q.stop()
  }

  test("interval join resolves shared timestamp column names without ambiguity") {
    implicit val sqlCtx = spark.sqlContext
    val evs = MemoryStream[(Long, Timestamp, String)]
    val rates = MemoryStream[(Timestamp, String, Double)]
    // both sides name their event-time column "ts" — must not throw
    val joined = StreamOps.intervalEnrich(
      evs.toDF().toDF("event_id", "ts", "ccy"), "ts",
      rates.toDF().toDF("ts", "rccy", "rate"), "ts",
      joinKeys = (e, r) => e("ccy") === r("rccy"),
      tolerance = "5 MINUTES",
      eventsWatermark = "10 minutes", refWatermark = "10 minutes")
    assert(joined.columns.count(_ == "ts") == 2) // analysis succeeded
  }

  test("streaming HLL registers equal the batch sketch after the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.HllSketch
    val stream = MemoryStream[String]
    val regs = StreamOps.streamingHllRegisters(stream.toDF(), col("value"))
    val q = regs.writeStream.format("memory").queryName("hll_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete).start()
    try {
      stream.addData((1 to 3000).map(i => s"user-$i"): _*)
      q.processAllAvailable()
      stream.addData((2000 to 5000).map(i => s"user-$i"): _*) // overlap
      q.processAllAvailable()
      val streaming = spark.table("hll_stream").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val batch = HllSketch.registers(
          (1 to 5000).map(i => s"user-$i").toDF("v"), col("v"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      // streaming state is sparse (untouched buckets absent); everywhere
      // it exists it must equal the batch register exactly
      assert(streaming.nonEmpty)
      streaming.foreach { case (b, r) => assert(batch(b) == r, s"bucket $b") }
      assert(batch.filter(_._2 > 0).keySet == streaming.keySet,
        "every touched bucket must be present in the streaming state")
    } finally q.stop()
  }

  test("streaming CMS cells equal the batch sketch's non-zero cells after the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.CountMinSketch
    val stream = MemoryStream[String]
    val cells = CountMinSketch.cells(stream.toDF(), col("value"))
    val q = cells.writeStream.format("memory").queryName("cms_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete).start()
    try {
      stream.addData((1 to 500).map(i => s"k${i % 40}"): _*)
      q.processAllAvailable()
      stream.addData((1 to 300).map(i => s"k${i % 25}"): _*)
      q.processAllAvailable()
      val streaming = spark.table("cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = CountMinSketch.sketch(
          ((1 to 500).map(i => s"k${i % 40}") ++ (1 to 300).map(i => s"k${i % 25}"))
            .toDF("v"), col("v"))
        .filter(col("cnt") > 0).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streaming === batch)
    } finally q.stop()
  }

  test("stream-static dim join: the streaming golden-join pattern is stateless") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Tables.nation(spark, sf("0.001")) // static dimension
    val stream = MemoryStream[(Long, Timestamp, Int)]
    val enriched = stream.toDF().toDF("event_id", "ts", "nation_key")
      .join(broadcast(dim), col("nation_key") === col("n_nationkey"), "left")
      .select("event_id", "n_name")
    val q = enriched.writeStream.format("memory").queryName("dim_join")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData((1L, ts(0), 0), (2L, ts(1), 99)) // 99: no dim match
      q.processAllAvailable()
      val rows = spark.table("dim_join").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows(1L).isDefined && rows(2L).isEmpty)
    } finally q.stop()
  }

  test("malformed tolerance is rejected at the API boundary") {
    val df = spark.range(1).toDF("x")
    val ex = intercept[IllegalArgumentException] {
      StreamOps.intervalEnrich(df, "x", df, "x", (a, b) => a("x") === b("x"),
        tolerance = "5min", eventsWatermark = "1 minute", refWatermark = "1 minute")
    }
    assert(ex.getMessage.contains("tolerance"))
  }
}
