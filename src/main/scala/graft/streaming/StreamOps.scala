package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Additional streaming operators (SURVEY §2 items 42-44 family).
  */
object StreamOps {

  /** CONTINUOUS sketch maintenance: the streaming twin of the batch
    * sketches — each micro-batch folds into the same fixed-size state the
    * batch operators produce, so a stream consumer holds an always-current
    * distinct-count / frequency summary without ever re-reading history
    * (state is ≤ m registers / d·w counters, regardless of stream length).
    *
    * Determinism carries over: the hash pipelines are the SAME columns the
    * batch sketches use, so after processing identical rows the streaming
    * state equals the batch sketch exactly (spec-asserted) — and a batch
    * sketch of yesterday MERGES with a streaming sketch of today
    * (HllSketch.merge / CountMinSketch.merge) because both are the same
    * registers.
    *
    * Run with OutputMode.Complete into a memory/table sink: max/sum are
    * order-insensitive aggregates, so no watermark is needed and state
    * cannot grow past the sketch size. Absent buckets simply haven't been
    * touched yet — union with the batch operator's zero rows if a dense
    * frame is needed.
    */
  def streamingHllRegisters(stream: DataFrame,
                            valueCol: org.apache.spark.sql.Column): DataFrame =
    graft.operators.HllSketch.bucketRho(stream, valueCol)
      .groupBy(col("bucket")).agg(max(col("rho")).as("register"))

  private val IntervalPattern =
    """(?i)\s*\d+\s+(MICROSECOND|MILLISECOND|SECOND|MINUTE|HOUR|DAY|WEEK)S?\s*""".r

  /** Stream-stream LEFT interval join: each event is joined to EVERY
    * reference row (e.g. FX-rate tick) whose event time falls within
    * [event - tolerance, event] — one output row per in-window match, so
    * size the tolerance to the reference tick interval or deduplicate
    * downstream if a single as-of row is required. Both sides carry
    * watermarks so join state is evicted; the time-range predicate is what
    * makes unbounded stream-stream joins tractable.
    *
    * @param joinKeys equality condition built from (events, reference) —
    *                 use the passed frames so shared column names resolve
    * @param tolerance "N UNIT" interval, e.g. "5 MINUTES"
    */
  def intervalEnrich(events: DataFrame, eventsTs: String,
                     reference: DataFrame, refTs: String,
                     joinKeys: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
                     tolerance: String,
                     eventsWatermark: String, refWatermark: String): DataFrame = {
    require(IntervalPattern.matches(tolerance),
      s"tolerance must look like '5 MINUTES', got: '$tolerance'")
    val e = events.withWatermark(eventsTs, eventsWatermark)
    val r = reference.withWatermark(refTs, refWatermark)
    e.join(r, joinKeys(e, r) &&
      r(refTs) >= e(eventsTs) - expr(s"INTERVAL $tolerance") &&
      r(refTs) <= e(eventsTs), "leftOuter")
  }
}
