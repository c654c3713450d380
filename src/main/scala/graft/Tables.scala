package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Test-table access. All graft operators are table-agnostic; this is just
  * the harness-side loader for the driver-generated TPC-H-ish parquet.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, s"$dir/events.parquet")
    else spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet carries INT64 TIMESTAMP(NANOS,false), which Spark 4's
    * parquet reader rejects outright (PARQUET_TYPE_ILLEGAL). Ingestion path:
    * read the nanos as raw longs (legacy nanosAsLong), then convert to
    * micros-precision timestamps with integer arithmetic — `ts div 1000`
    * stays in Long (double division would lose precision above 2^53, and
    * epoch-nanos are ~1.7e18).
    */
  def events(spark: SparkSession, path: String): DataFrame = {
    // Scope the legacy conf to schema inference only: set → read (inference
    // captures ts as LongType) → restore. Leaving it set session-wide would
    // silently change how every later parquet read in the session interprets
    // TIMESTAMP(NANOS) columns. Execution after restore is safe — the
    // resolved schema travels with the plan (verified empirically).
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val df = spark.read.parquet(path)
      df.schema // force inference while the conf is in effect
      withTsFromNanos(df)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Normalize `ts` to a session-TZ TIMESTAMP regardless of how the lake
    * encoded it. A real lake carries BOTH encodings side by side, so the
    * ingestion layer must accept both:
    *   - INT64 TIMESTAMP(NANOS) → surfaces as raw nanos Long under the
    *     engine's nanosAsLong policy; convert with integer arithmetic
    *     (`ts div 1000` stays in Long — double division loses precision
    *     above 2^53, and epoch-nanos are ~1.7e18).
    *   - TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=false) → surfaces as
    *     TIMESTAMP_NTZ; the session TZ is pinned to UTC
    *     (GraftSession.scala:29), so casting NTZ→TIMESTAMP reinterprets
    *     the same wall-clock instant exactly — no ambiguity, no DST.
    * Already-TIMESTAMP columns pass through. Shared by the batch loader
    * and the streaming sources.
    */
  def withTsFromNanos(df: DataFrame): DataFrame =
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** This JVM's scratch base: `target/scratch/<run id>` under the
    * working directory, where the run id (pid + JVM start time in ms,
    * both base 36) is unique per JVM. Two JVMs over one corpus (Verify
    * beside Bench, forked bench chunks) therefore never share a store
    * root, so neither can delete the other's store mid-read. Removed at
    * JVM exit. Base 36 keeps the paths short: plan strings abbreviate a
    * scan's location at 100 characters, and the plan audits read the
    * table directory out of it.
    */
  lazy val scratchBase: String = {
    val runId = java.lang.Long.toString(ProcessHandle.current().pid(), 36) +
      "_" + java.lang.Long.toString(java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime, 36)
    val base = new java.io.File("target/scratch", runId).getAbsoluteFile
    base.mkdirs()
    sys.addShutdownHook {
      org.apache.commons.io.FileUtils.deleteQuietly(base); ()
    }
    base.getPath
  }

  /** Scratch path `sub` for sink/roundtrip operators and stores, under
    * [[scratchBase]].
    */
  def scratch(sub: String): String = {
    val p = s"$scratchBase/$sub"
    new java.io.File(p).getParentFile.mkdirs()
    p
  }
}
