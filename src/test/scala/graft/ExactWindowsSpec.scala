package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExactWindows

class ExactWindowsSpec extends AnyFunSuite with SparkSpec {

  private lazy val events = Tables(spark, sfDir(), "events")
    .select("event_id", "event_type", "ts", "value").limit(2000)

  test("trailingMedian matches the raw window expression") {
    val out = ExactWindows.trailingMedian(events, "event_type",
      Seq(col("ts"), col("event_id")), col("value"), frameRows = 10)
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    val direct = events.withColumn("med",
      round(call_function("percentile", col("value"), lit(0.5)).over(w), 4))
    assert(out.exceptAll(direct).count() === 0L &&
           direct.exceptAll(out).count() === 0L)
  }

  test("a BINARY partition key is compared by content, not reference") {
    val keyed = events.withColumn("k", encode(col("event_type"), "UTF-8"))
    val out = ExactWindows.trailingMedian(keyed, "k",
      Seq(col("ts"), col("event_id")), col("value"), frameRows = 10)
    val w = Window.partitionBy("k")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    val direct = keyed.withColumn("med",
      round(call_function("percentile", col("value"), lit(0.5)).over(w), 4))
    assert(out.exceptAll(direct).count() === 0L &&
           direct.exceptAll(out).count() === 0L)
  }

  test("the at-scale guard refuses a frame x rows-per-key product that " +
       "would serialize, and names the t-digest alternative") {
    val e = intercept[IllegalArgumentException] {
      ExactWindows.trailingMedian(events, "event_type",
        Seq(col("ts"), col("event_id")), col("value"), frameRows = 100,
        maxCellsPerKey = 1000L)
    }
    assert(e.getMessage.contains("t-digest"), e.getMessage)
    assert(e.getMessage.contains("serialized"), e.getMessage)
    // an informed caller can bypass explicitly
    val n = ExactWindows.trailingMedian(events, "event_type",
      Seq(col("ts"), col("event_id")), col("value"), frameRows = 100,
      maxCellsPerKey = 1000L, guard = false).count()
    assert(n === events.count())
  }
}
