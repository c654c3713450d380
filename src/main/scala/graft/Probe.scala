package graft

/** Ad-hoc perf probe main (round-6 diagnostics, not part of the driver
  * contract): times named SparkEntry queries on a given dir, n runs each,
  * in a fresh JVM — isolates bench-ordering effects from real regressions.
  *
  * Usage: runMain graft.Probe <dir> <n> <query...>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = Bench.cpus(sys.env)
    val spark = GraftSession
      .builder("graft-probe", Some(s"local[$cpus]"), Some(cpus))
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      // tiny warmup like Bench does
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      catch { case e: Throwable => System.err.println(s"warmup $name: $e") }
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}  min=${times.min}%.2f")
    }
    spark.stop()
  }
}
