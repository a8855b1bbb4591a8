package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.operators.OpCache
import graft.queries.CoreQueries

/** The benchmark's measuring process: one JVM per run, one client.
  *
  * It starts a session, then calls the workload's gates in the given
  * order, pass after pass: `WarmupPasses` warm-up passes, then exactly
  * `--passes` measured passes. Set-up time runs from JVM start to the end
  * of the warm-up, so JVM and Spark start, class loading, JIT compilation
  * and first-time planning all count in it. Each gate's timed window runs from the gate
  * call until its result is persisted as parquet under `<out>/<gate>`,
  * which both forces it and leaves it where `tools/compare.py` looks for
  * it. With `--trace 1` the measured passes run with Spark's listeners
  * attached; the warm-up passes never do.
  *
  * Raw records go to `<out>/run.json`; `run.py` aggregates them.
  *
  * {{{
  * graftbench.Runner --data DIR --out DIR --gates q01,q02 --passes 3
  *                   --trace 0 --cores 2
  * }}}
  */
object Runner {

  /** The JIT still cuts a pass's wall time by about a tenth from one warm
    * pass to the next, and how far it has got by a given pass depends on
    * how busy the box is. A second warm-up pass measures a warmer, and so
    * steadier, program.
    */
  val WarmupPasses = 2

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuNs(): Long = osBean.getProcessCpuTime

  final case class GateRun(gate: String, error: Option[String],
                           startMs: Long, buildEndMs: Long, endMs: Long,
                           buildNs: Long, actionNs: Long, cpuNs: Long,
                           stats: Option[LayerStats])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    val data = opt("data")
    val out = opt("out")
    val gates = opt("gates").split(",").toSeq
    val measured = opt("passes").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val fns = gates.map { g =>
      g -> SparkEntry.queries.getOrElse(g,
        throw new IllegalArgumentException(s"unknown gate $g"))
    }
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json(gates.map { g =>
      g -> SparkEntry.oracleSql.getOrElse(g,
        throw new IllegalArgumentException(s"gate $g has no oracle"))
    }.toMap))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val steal0 = stealS()
    val box = ArrayBuffer[(String, Any)]("cores" -> cores,
      "loadavg_before" -> loadavg())
    val collector = new Collector(spark)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val spans = ArrayBuffer.empty[Map[String, Any]]
    var setupS = 0.0
    // The warm-up passes warm the JIT and Spark's codegen cache and are not
    // measured; their end closes the set-up time. A fixed number of
    // measured passes follows, so a slow run gets as many samples as a
    // fast one.
    var pass = 0
    while (pass < WarmupPasses + measured) {
      val warmup = pass < WarmupPasses
      val traced = trace && !warmup
      if (traced && pass == WarmupPasses) collector.attach()
      val p0 = System.currentTimeMillis()
      val runs = fns.map { case (g, fn) =>
        runGate(spark, g, fn, data, s"$out/$g",
          if (traced) Some(collector) else None)
      }
      val p1 = System.currentTimeMillis()
      passes += Map("pass" -> pass, "warmup" -> warmup, "traced" -> traced,
        "gates" -> runs.map(r => gateRow(r, cores)))
      if (traced) spans ++= passSpans(pass, p0, p1, runs)
      if (pass == WarmupPasses - 1) {
        setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
        box += "calibration_ms_before" -> calibrate()
      }
      pass += 1
    }
    if (trace) collector.detach()
    box += "loadavg_after" -> loadavg()
    box += "calibration_ms_after" -> calibrate()
    box += "steal_s" -> (stealS() - steal0)
    spark.stop()
    val record = Map[String, Any](
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "box" -> box.toMap,
      "passes" -> passes.toSeq,
      "spans" -> spans.toSeq)
    Files.writeString(Paths.get(out, "run.json"), Json(record))
  }

  /** One gate call in the closed loop. The window opens before the gate
    * function runs, because several gates do eager work while building
    * (connected-component loops, quantile collects), and closes when the
    * result is persisted; `OpCache.scoped`'s blocking unpersist runs after
    * it, as in `graft.Bench`.
    */
  def runGate(spark: SparkSession, gate: String,
              fn: (SparkSession, String) => DataFrame, data: String,
              resultDir: String, collector: Option[Collector]): GateRun = {
    val window = collector.map(_.begin())
    var startMs, buildEndMs, endMs = 0L
    var buildNs, actionNs, cpu = 0L
    val error = try {
      OpCache.scoped {
        startMs = System.currentTimeMillis()
        val c0 = cpuNs()
        val n0 = System.nanoTime()
        val df = fn(spark, data)
        val n1 = System.nanoTime()
        buildEndMs = System.currentTimeMillis()
        df.write.mode("overwrite").parquet(resultDir)
        val n2 = System.nanoTime()
        cpu = cpuNs() - c0
        endMs = System.currentTimeMillis()
        buildNs = n1 - n0
        actionNs = n2 - n1
      }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    spark.catalog.clearCache()
    collector.foreach(_.end())
    GateRun(gate, error, startMs, buildEndMs, endMs, buildNs, actionNs, cpu,
      window)
  }

  /** The gate's row: end-to-end timings, plus its layer metrics when traced. */
  def gateRow(r: GateRun, cores: Int): Map[String, Any] = {
    val base = Map[String, Any]("gate" -> r.gate, "error" -> r.error.orNull,
      "wall_ms" -> (r.buildNs + r.actionNs) / 1e6, "cpu_ms" -> r.cpuNs / 1e6)
    r.stats.fold(base)(s => base + ("layers" -> layers(r, s, cores)))
  }

  /** Per-layer metrics of one traced gate call. `driver_other_ms` is the
    * window minus the union of job and planning intervals, so overlapping
    * jobs and planning nested in a job are never billed twice.
    */
  def layers(r: GateRun, s: LayerStats, cores: Int): Map[String, Double] = {
    val jobMs = Iv.unionMs(s.jobs.map(_._2), r.startMs, r.endMs)
    val busyMs = Iv.unionMs(s.jobs.map(_._2) ++ s.phases.map(_._2),
      r.startMs, r.endMs)
    s.counters.toMap ++ Map(
      "queries.build_ms" -> r.buildNs / 1e6,
      "queries.action_ms" -> r.actionNs / 1e6,
      "queries.driver_other_ms" -> (r.endMs - r.startMs - busyMs).toDouble,
      "operators.job_ms" -> jobMs.toDouble,
      "operators.core_util" ->
        (if (jobMs > 0) s("operators.task_ms") / (jobMs.toDouble * cores) else 0.0))
  }

  /** Spans of one traced pass: pass -> gate -> {build, action} -> job, with
    * planning phases and stream batches under the gate. They share the
    * pass number as trace id; self time is a span's length minus the part
    * of it its children cover.
    */
  def passSpans(pass: Int, p0: Long, p1: Long,
                runs: Seq[GateRun]): Seq[Map[String, Any]] = {
    var nextId = 0L
    val out = ArrayBuffer.empty[(Long, Long, String, String, Iv)]
    def span(parent: Long, name: String, kind: String, iv: Iv): Long = {
      nextId += 1
      out += ((nextId, parent, name, kind, iv))
      nextId
    }
    val root = span(0, s"pass-$pass", "pass", Iv(p0, p1))
    runs.foreach { r =>
      val g = span(root, r.gate, "gate", Iv(r.startMs, r.endMs))
      val build = span(g, "build", "build", Iv(r.startMs, r.buildEndMs))
      val action = span(g, "action", "action", Iv(r.buildEndMs, r.endMs))
      r.stats.foreach { s =>
        s.jobs.foreach { case (id, iv) =>
          span(if (iv.start < r.buildEndMs) build else action, s"job-$id", "job", iv)
        }
        s.phases.foreach { case (p, iv) => span(g, p, "plan", iv) }
        s.batches.foreach { case (b, iv) => span(g, s"batch-$b", "stream", iv) }
      }
    }
    val children = out.groupBy(_._2)
    out.toSeq.map { case (id, parent, name, kind, iv) =>
      val covered = Iv.unionMs(children.getOrElse(id, Nil).map(_._5), iv.start, iv.end)
      Map("trace" -> pass, "id" -> id, "parent" -> parent, "name" -> name,
        "kind" -> kind, "start_ms" -> iv.start, "end_ms" -> iv.end,
        "self_ms" -> (iv.end - iv.start - covered))
    }
  }

  private def loadavg(): String =
    Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3)
      .mkString(" ")

  /** CPU time the hypervisor gave to others (all cores), from /proc/stat. */
  private def stealS(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8)
      .toDouble / 100

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** A fixed pure-JVM integer loop, timed as the median of five tries. Its
    * time moves with the box (steal, frequency), not with graft, so it
    * tells a slow box from a slow program. Reported, never used to rescale.
    */
  def calibrate(): Double = {
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42) println("")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    times(2)
  }
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
