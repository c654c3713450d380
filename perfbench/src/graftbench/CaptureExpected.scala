package graftbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Writes the expected results of the engine query keys the censo
  * workload runs, one list of canonical rows per key:
  * `CaptureExpected <testdata sf dir> <out.json>`. Run it at a commit whose
  * results have passed the DuckDB oracle.
  */
object CaptureExpected {
  val keys = Seq("q1_agg", "q3_join_topk", "q5_star_join", "b19_range_join")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graftbench-expected", Some("local[4]"), Some(4))
      .config("spark.ui.enabled", "false").getOrCreate()
    val rows = keys.map(k =>
      k -> SparkEntry.queries(k)(spark, args(0)).collect().toSeq.map(Answers.canonical)).toMap
    Files.writeString(Paths.get(args(1)), Json.write(rows) + "\n")
    spark.stop()
  }
}
