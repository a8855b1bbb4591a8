package graftbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval in epoch milliseconds (Spark's listener clock). */
final case class Iv(start: Long, end: Long)

object Iv {

  /** Length of the union of `ivs`, each clipped to `[lo, hi]`. Jobs overlap
    * when a gate runs `Par` lanes, so summing their lengths would bill the
    * same wall time twice.
    */
  def unionMs(ivs: Iterable[Iv], lo: Long, hi: Long): Long = {
    val clipped = ivs.iterator
      .map(i => Iv(math.max(i.start, lo), math.min(i.end, hi)))
      .filter(i => i.end > i.start).toSeq.sortBy(_.start)
    var total = 0L
    var cur: Iv = null
    clipped.foreach { i =>
      if (cur == null || i.start > cur.end) {
        if (cur != null) total += cur.end - cur.start
        cur = i
      } else if (i.end > cur.end) cur = Iv(cur.start, i.end)
    }
    if (cur != null) total += cur.end - cur.start
    total
  }
}

/** What the listeners saw while one gate (or one self-test query) ran.
  * Counter names are the benchmark's per-layer metric names.
  */
final class LayerStats {
  val jobs = mutable.ArrayBuffer.empty[(Int, Iv)]
  val phases = mutable.ArrayBuffer.empty[(String, Iv)]
  val batches = mutable.ArrayBuffer.empty[(Long, Iv)]
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v

  def max(key: String, v: Double): Unit =
    counters(key) = math.max(counters.getOrElse(key, 0.0), v)

  def apply(key: String): Double = counters.getOrElse(key, 0.0)
}

object LayerStats {

  /** Counters every gate row carries, zero when the layer did nothing. */
  val CounterNames: Seq[String] = Seq(
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "plans.n_qe",
    "operators.n_jobs", "operators.n_stages", "operators.stages_skipped",
    "operators.n_tasks", "operators.tasks_failed", "operators.task_ms",
    "operators.task_cpu_ms", "operators.gc_ms",
    "operators.shuffle_write_bytes", "operators.shuffle_read_bytes",
    "operators.fetch_wait_ms", "operators.spill_bytes",
    "operators.cached_peak_bytes",
    "sources.input_bytes", "sources.output_bytes", "sources.output_records",
    "streaming.batches", "streaming.batch_ms", "streaming.commit_ms")
}

/** Spark's public listeners, attached from outside the program: a
  * SparkListener (jobs, stages, tasks, block updates), a
  * QueryExecutionListener (planning phases) and a StreamingQueryListener
  * (micro-batches). Events go to the stats of the window opened by
  * [[begin]]; [[end]] drains the asynchronous listener bus first, so every
  * event the window's work posted is counted in it.
  */
final class Collector(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var current: LayerStats = _
  // jobId -> (start ms, stage ids, stages submitted while it ran)
  private val activeJobs =
    mutable.Map.empty[Int, (Long, Set[Int], mutable.Set[Int])]
  // RDD block name -> bytes pinned in memory or on disk
  private val blocks = mutable.Map.empty[String, Long]
  private var pinnedBytes = 0L

  private def withCurrent(f: LayerStats => Unit): Unit =
    if (current != null) f(current)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Collector.this.synchronized {
        activeJobs(e.jobId) = (e.time, e.stageIds.toSet, mutable.Set.empty)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Collector.this.synchronized {
        activeJobs.remove(e.jobId).foreach { case (t0, stages, ran) =>
          withCurrent { s =>
            s.jobs += e.jobId -> Iv(t0, e.time)
            s.add("operators.n_jobs", 1)
            s.add("operators.stages_skipped", (stages -- ran).size)
          }
        }
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Collector.this.synchronized {
        val id = e.stageInfo.stageId
        activeJobs.values.foreach { case (_, stages, ran) =>
          if (stages(id)) ran += id
        }
        withCurrent(_.add("operators.n_stages", 1))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Collector.this.synchronized {
        withCurrent { s =>
          s.add("operators.n_tasks", 1)
          if (e.reason != Success) s.add("operators.tasks_failed", 1)
          val m = e.taskMetrics
          if (m != null) {
            s.add("operators.task_ms", m.executorRunTime)
            s.add("operators.task_cpu_ms", m.executorCpuTime / 1e6)
            s.add("operators.gc_ms", m.jvmGCTime)
            s.add("operators.shuffle_write_bytes",
              m.shuffleWriteMetrics.bytesWritten)
            s.add("operators.shuffle_read_bytes",
              m.shuffleReadMetrics.totalBytesRead)
            s.add("operators.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
            s.add("operators.spill_bytes",
              m.memoryBytesSpilled + m.diskBytesSpilled)
            s.add("sources.input_bytes", m.inputMetrics.bytesRead)
            s.add("sources.output_bytes", m.outputMetrics.bytesWritten)
            s.add("sources.output_records", m.outputMetrics.recordsWritten)
          }
        }
      }

    // Blocks pinned by OpCache / Checkpoints are RDD blocks; their total
    // is tracked across windows so a peak counts what earlier gates left.
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Collector.this.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val name = info.blockId.name
          val bytes =
            if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          pinnedBytes += bytes - blocks.getOrElse(name, 0L)
          if (bytes > 0) blocks(name) = bytes else blocks.remove(name)
          withCurrent(_.max("operators.cached_peak_bytes", pinnedBytes))
        }
      }

    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      Collector.this.synchronized {
        val prefix = s"rdd_${e.rddId}_"
        blocks.keys.filter(_.startsWith(prefix)).toSeq.foreach { k =>
          pinnedBytes -= blocks.remove(k).getOrElse(0L)
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    // Only the tracker: the analysed and optimised plans are lazy, and a
    // query that failed analysis would throw again if they were touched.
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      Collector.this.synchronized {
        withCurrent { s =>
          s.add("plans.n_qe", 1)
          for (p <- Seq("analysis", "optimization", "planning");
               ph <- phases.get(p)) {
            s.add(s"plans.${p}_ms", ph.durationMs)
            s.phases += p -> Iv(ph.startTimeMs, ph.endTimeMs)
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val trigger = ms("triggerExecution")
      val start = Instant.parse(p.timestamp).toEpochMilli
      Collector.this.synchronized {
        withCurrent { s =>
          s.add("streaming.batches", 1)
          s.add("streaming.batch_ms", trigger)
          s.add("streaming.commit_ms", ms("walCommit") + ms("commitOffsets"))
          s.batches += p.batchId -> Iv(start, start + trigger)
        }
      }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Opens a window: events delivered from now on go to the returned stats. */
  def begin(): LayerStats = {
    ListenerBusDrain(sc)
    synchronized {
      val s = new LayerStats
      LayerStats.CounterNames.foreach(s.add(_, 0))
      s.max("operators.cached_peak_bytes", pinnedBytes)
      current = s
      s
    }
  }

  /** Closes the window after every event posted so far has been delivered. */
  def end(): LayerStats = {
    ListenerBusDrain(sc)
    synchronized { val s = current; current = null; s }
  }
}
