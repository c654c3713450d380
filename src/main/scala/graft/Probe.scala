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
    val spark = Bench.makeSession("probe")
    // toRdd.count(), as Bench times it: a bare count() lets Catalyst
    // prune every output column and times the query minus its work
    names.foreach { name =>
      Bench.warmup(spark, Seq(name))
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}  min=${times.min}%.2f")
    }
    spark.stop()
  }
}
