package graft

import java.io.{File, PrintWriter}

/** Dumps formatted physical plans — the plan-quality audit trail
  * (pushdown, pruned schemas, broadcast vs shuffle joins, codegen spans).
  * The session is [[GraftSession]]'s at local[4], so the plans are the
  * ones the bench runs.
  *
  * Usage:
  *   sbt "runMain graft.Explain [sfDir] [outFile]"
  *     every SparkEntry gate into one markdown file (default EXPLAINS.md);
  *   sbt "runMain graft.Explain <sfDir> <outDir> <suffix> <query>..."
  *     the named gates, one `<outDir>/<query>_<suffix>.txt` each — the
  *     per-optimization before/after evidence (plans/.../q_before.txt).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("EXPLAINS.md")
    val suffix = args.lift(2)
    val names = args.drop(3).toSeq
    require(suffix.isEmpty || names.nonEmpty,
      "usage: Explain <sfDir> <outDir> <suffix> <query>...")
    val spark = GraftSession.builder("local[4]", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = SparkEntry.queries
    def plan(name: String): String =
      try queries.getOrElse(name,
          throw new IllegalArgumentException(s"unknown query $name"))(
          spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => s"FAILED: ${e.getMessage}\n" }
    if (names.isEmpty) {
      val pw = new PrintWriter(new File(out))
      pw.println(s"# Physical plans (`explain formatted`) at $sfDir\n")
      pw.println("Generated by `graft.Explain`. Audit points: `PushedFilters`/`ReadSchema`")
      pw.println("on every scan, broadcast vs shuffle join choices, codegen stage spans.\n")
      queries.keys.toSeq.sorted.foreach { name =>
        val p = plan(name)
        if (p.startsWith("FAILED: ")) pw.println(s"## $name\n\n$p")
        else pw.println(s"## $name\n\n```\n$p```\n")
      }
      pw.close()
      println(s"wrote $out")
    } else {
      new File(out).mkdirs()
      names.foreach { name =>
        val pw = new PrintWriter(new File(out, s"${name}_${suffix.get}.txt"))
        pw.println(s"# $name (${suffix.get}) at $sfDir\n")
        pw.println(plan(name))
        pw.close()
        println(s"dumped $name -> $out/${name}_${suffix.get}.txt")
      }
    }
    spark.stop()
  }
}
