package graftbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, raise_error, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object AttributionSpec {
  val SleepMs = 700L
  // in the companion, so the closure does not capture the (unserializable) suite
  private val sleepy = udf { (x: Long) => Thread.sleep(SleepMs); x }
}

/** Pins the harness's attribution on toy queries whose answer is known. */
class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import AttributionSpec._

  /** One job, one stage, two tasks sleeping side by side. */
  private def action(): Unit = {
    spark.range(0, 2, 1, 2).select(sleepy(col("id"))).collect()
    ()
  }

  private def window(body: => Unit): (Runner.GateRun, Map[String, Double]) = {
    val collector = new Collector(spark)
    collector.attach()
    try {
      val stats = collector.begin()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      body
      val n1 = System.nanoTime()
      val t1 = System.currentTimeMillis()
      collector.end()
      val run = Runner.GateRun("toy", None, t0, t0, t1, 0L, n1 - n0, 0L, Some(stats))
      (run, Runner.layers(run, stats, cores = 4))
    } finally collector.detach()
  }

  test("union of intervals, clipped to the window") {
    val ivs = Seq(Iv(0, 10), Iv(5, 15), Iv(20, 25))
    assert(Iv.unionMs(ivs, 0, 100) == 20)
    assert(Iv.unionMs(ivs, 8, 22) == 9)
    assert(Iv.unionMs(Nil, 0, 100) == 0)
  }

  test("two actions on two threads: each job and plan counted once, job time is the union") {
    action() // classes and codegen load outside the measured window
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (run, m) = try window {
      Await.result(Future.sequence(Seq(Future(action()), Future(action()))), Duration.Inf)
      ()
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    val stats = run.stats.get
    assert(m("operators.n_jobs") == 2)
    assert(m("plans.n_qe") == 2)
    assert(m("operators.n_stages") == 2)
    assert(m("operators.n_tasks") == 4)
    assert(m("operators.tasks_failed") == 0)
    // the two jobs overlap: their union is one job's length, not the sum
    val lengths = stats.jobs.map { case (_, iv) => iv.end - iv.start }
    assert(lengths.forall(_ >= SleepMs))
    assert(m("operators.job_ms") >= lengths.max)
    assert(m("operators.job_ms") < 0.75 * lengths.sum)
    // four task bodies of SleepMs each ran inside the job time
    assert(m("operators.task_ms") >= 4 * SleepMs)
    assert(m("queries.driver_other_ms") >= 0)
    assert(m("queries.driver_other_ms") <= run.endMs - run.startMs - m("operators.job_ms"))
  }

  test("a failing action is still counted, from the planning tracker alone") {
    val (_, m) = window {
      intercept[Exception](spark.range(1).select(raise_error(lit("boom"))).collect())
      ()
    }
    assert(m("plans.n_qe") == 1)
    assert(m("operators.n_jobs") <= 1)
    assert(m("queries.driver_other_ms") >= 0)
  }
}
