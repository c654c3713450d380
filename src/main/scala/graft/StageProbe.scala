package graft

import java.util.Locale

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-attributable 100x probes — the r14 verdict's ask #2: three
  * rounds of driver-vs-builder WALL-CLOCK arbitration on the c76 row
  * is enough. This main re-runs the disputed probes (c76, plus the two
  * watch-items c27 and q5) on the 100-copy replica with a
  * stage-metrics listener attached and dumps ONE JSON artifact mapping
  * each query to its completed stages — wall ms, summed executor task
  * ms, GC ms, shuffle read/write MB, input MB, spill MB, task count —
  * so the NEXT out-of-band driver reading can be attributed to a
  * specific stage class (the shuffle write? the span-digest compute?
  * GC pressure?) instead of re-litigated. Committed as
  * C76_STAGES_local_r15.json; the quiet-box run is the reference
  * profile a loaded-box reading gets diffed against.
  *
  * Methodology matches Bench's timed probes exactly so the stages ARE
  * the ones the bench rows time: same session shape, replica ensured
  * then drained, sf0.001 warmup per query (JIT + codegen), cache
  * cleared + pre-t0 GC, `queryExecution.toRdd.count()`.
  */
object StageProbe {

  private final case class StageRow(id: Int, attempt: Int, name: String,
                                    wallMs: Long, runMs: Long, gcMs: Long,
                                    shufReadB: Long, shufWriteB: Long,
                                    inputB: Long, spillB: Long, tasks: Int)

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\t", " ")

  /** The data scale to probe, from SPARK_GRAFT_STAGE_COPIES (r19): 0
    * probes the BASE sf dir (stage attribution for rows whose cost
    * question is "where do the sf0.1 seconds go", e.g. the tokenizer
    * lifecycle family), 10/100 the replicas; unset stays the 100-copy
    * replica (the original c76-arbitration protocol). A non-negative
    * integer, else a loud error naming the variable; 1 IS the base dir,
    * so it reads (and is reported) as 0.
    */
  private[graft] def stageCopies(env: collection.Map[String, String]): Int = {
    val n = Bench.envCount(env, "SPARK_GRAFT_STAGE_COPIES", 0).getOrElse(100)
    if (n <= 1) 0 else n
  }

  def main(args: Array[String]): Unit = {
    val queries =
      if (args.nonEmpty) args.toSeq
      else Seq("q5_star_join", "c27_span_dedup", "c76_multiscale_spans")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.makeSession("stage-probe")
    val copies = stageCopies(sys.env)
    val dir =
      if (copies == 0) sf
      else ScaleReplica.ensure(spark, sf, copies = copies,
        tables = if (copies >= 100) Bench.scale100Tables
                 else ScaleReplica.defaultTables)
    ScaleReplica.drainBuildState(spark)

    val buf = new scala.collection.mutable.ArrayBuffer[StageRow]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        buf.synchronized {
          buf += StageRow(si.stageId, si.attemptNumber(), si.name, wall,
            m.executorRunTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled, si.numTasks)
          ()
        }
      }
    }

    def mb(b: Long): String = "%.1f".formatLocal(Locale.ROOT, b / 1048576.0)
    val blocks = queries.map { name =>
      // warmup (JIT + first-time codegen for this plan shape)
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[stage-probe] warmup $name: ${e.getMessage}") }
      spark.sqlContext.clearCache()
      System.gc(); Thread.sleep(50)
      buf.synchronized { buf.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // let the listener bus drain the final stage-completed events
      Thread.sleep(1500)
      spark.sparkContext.removeSparkListener(listener)
      val rows = buf.synchronized { buf.sortBy(-_.runMs).toVector }
      val stages = rows.map { r =>
        ("""{"id":%d,"attempt":%d,"wall_ms":%d,"run_ms":%d,"gc_ms":%d,""" +
          """"shuf_r_mb":%s,"shuf_w_mb":%s,"in_mb":%s,"spill_mb":%s,""" +
          """"tasks":%d,"name":"%s"}""")
          .formatLocal(Locale.ROOT, r.id, r.attempt, r.wallMs, r.runMs,
            r.gcMs, mb(r.shufReadB), mb(r.shufWriteB), mb(r.inputB),
            mb(r.spillB), r.tasks, esc(r.name.take(120)))
      }.mkString("[", ",", "]")
      System.err.println(
        s"[stage-probe] $name: ${rows.size} stages in " +
          "%.3f".formatLocal(Locale.ROOT, sec) + " s")
      s""""$name":{"sec":${"%.3f".formatLocal(Locale.ROOT, sec)},""" +
        s""""n_stages":${rows.size},"stages":$stages}"""
    }
    val json =
      s"""{"metric":"stage_probe","unit":"ms","sf":"$sf","copies":$copies,""" +
        s""""queries":{${blocks.mkString(",")}}}"""
    val out = java.nio.file.Paths.get("target/stage_probe.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, json + "\n")
    System.err.println(s"[stage-probe] artifact: $out")
    println(json.take(1400))
    spark.stop()
    sys.exit(0)
  }
}
