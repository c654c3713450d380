package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.GraftSession

/** One closed-loop benchmark run: one client thread, one `local[N]`
  * session, one workload. Prints one `GRAFTBENCH_RESULT {json}` line.
  *
  * Untraced (`--trace 0`) runs give the end-to-end metrics. Traced runs
  * alternate traced and untraced ops, so the per-layer metrics come from
  * the traced half and the tracing overhead is the difference between the
  * two halves' throughput.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path, testdata: String, expected: Path, cores: Int)

  /** Set-ups per run; the median is reported. */
  val setupReps = 3
  /** Measured cycles a run makes at the least, so every op type has a
    * median and a tail of its own.
    */
  val minCycles = 3
  /** Unmeasured cycles before the measured ones. After one, the first
    * measured cycle still ran up to 1.8x slower than the third (JIT and
    * caches still warming).
    */
  val warmUpCycles = 2
  /** A run stops mid-cycle once its wall clock is this far past `--seconds`. */
  val overrunLimitS = 60.0

  final case class OpRecord(index: Int, kind: Int, seconds: Double, startMs: Long,
                            endMs: Long, error: Option[String], traced: Boolean,
                            counts: Option[OpCounts], codegenS: Double,
                            facts: Map[String, Double], checkS: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      Paths.get(a("work")), Paths.get(a("out")), a("testdata"), Paths.get(a("expected")),
      a("cores").toInt)
    val code =
      try { println("GRAFTBENCH_RESULT " + Json.write(run(o))); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  def session(o: Opts, dir: Path): SparkSession = {
    val s = GraftSession.builder("graftbench", Some(s"local[${o.cores}]"), Some(o.cores))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(o: Opts): Map[String, Any] = {
    val mainAt = System.currentTimeMillis()
    val jvmStartS = (mainAt - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer
    val w = Workload(o.workload, o.seed, tracer, o.testdata, o.expected)

    // an op's timed part (with `drain` inside the clock), and its answer
    // check, which runs after the clock stops
    type Outcome = Either[Exception, () => Checked]
    def timed(kind: Int, drain: => Unit): (Double, Long, Long, Outcome) = {
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val outcome =
        try Right(w.run(kind))
        catch { case e: Exception => Left(e) }
      drain
      ((System.nanoTime() - t0) / 1e9, m0, System.currentTimeMillis(), outcome)
    }
    def check(outcome: Outcome): Checked = outcome match {
      case Right(check) =>
        try check()
        catch { case e: Exception => Checked(Some(s"check threw $e")) }
      case Left(e) => Checked(Some(s"op threw $e"))
    }

    // set-up: session start, input generation and any load, several times.
    // The first op of each session but the last is a cold op; the last
    // session's opens its warm-up cycles.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val cold = mutable.ArrayBuffer.empty[OpRecord]
    var spark: SparkSession = null
    var inputs = Map.empty[String, Double]
    for (rep <- 1 to setupReps) {
      val dir = o.work.resolve(s"setup$rep")
      if (spark != null) {
        spark.stop()
        deleteTree(o.work.resolve(s"setup${rep - 1}"))
      }
      tracer.on = o.trace
      val t0 = System.nanoTime()
      spark = tracer("GraftSession.start")(session(o, dir))
      inputs = w.setUp(spark, dir)
      setupS += (System.nanoTime() - t0) / 1e9
      tracer.on = false
      if (rep < setupReps) {
        val (secs, m0, m1, outcome) = timed(0, ())
        val checked = check(outcome)
        cold += OpRecord(-1, 0, secs, m0, m1, checked.error.map(e =>
          s"${w.opTypes(0)} (cold): $e"), false, None, 0.0, checked.facts, 0.0)
      }
    }
    val sc = spark.sparkContext
    val counters = new SparkCounters
    if (o.trace) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }

    // closed loop over whole cycles, each op type once per cycle in seeded
    // order. Warm-up cycles, the first opening with type 0 (the cold op),
    // fill caches and JIT before the measured cycles; their answers are
    // checked too.
    val n = w.opTypes.size
    val rng = new SplittableRandom(o.seed)
    def cycle(coldFirst: Boolean): Seq[Int] = {
      val ks = Array.range(0, n)
      val from = if (coldFirst) 1 else 0
      for (i <- n - 1 to from + 1 by -1) {
        val j = from + rng.nextInt(i - from + 1)
        val t = ks(i); ks(i) = ks(j); ks(j) = t
      }
      ks.toSeq
    }
    val records = mutable.ArrayBuffer.empty[OpRecord]
    def runOp(kind: Int, traced: Boolean): OpRecord = {
      val i = records.size
      if (traced) {
        ListenerBusDrain(sc)
        counters.begin()
        tracer.on = true
        tracer.op = i
      }
      val cg0 = CodeGenerator.compileTime
      val (secs, m0, m1, outcome) = timed(kind, if (traced) ListenerBusDrain(sc))
      val counts = if (traced) Some(counters.end()) else None
      val codegenS = (CodeGenerator.compileTime - cg0) / 1e9
      tracer.on = false
      val c0 = System.nanoTime()
      val checked = check(outcome)
      val r = OpRecord(i, kind, secs, m0, m1, checked.error.map(e =>
        s"${w.opTypes(kind)}: $e"), traced, counts, codegenS, checked.facts,
        (System.nanoTime() - c0) / 1e9)
      records += r
      r
    }
    val warmUp = (1 to warmUpCycles).flatMap(c => cycle(coldFirst = c == 1))
      .map(runOp(_, traced = false))
    // --seconds counts time inside measured ops; answer checks come on top
    val start = System.nanoTime()
    def wall = (System.nanoTime() - start) / 1e9
    def elapsed = records.drop(warmUp.size).map(_.seconds).sum
    // start a cycle while that ends the run nearer to --seconds than not,
    // or while fewer than minCycles ran: every type then ran in three cycles
    // or more, traced in some and untraced in others
    var cycleS = 0.0
    var cycles = 0
    val seen = new Array[Int](n)
    while (elapsed + cycleS / 2 < o.seconds || cycles < minCycles) {
      val c0 = elapsed
      val kinds = cycle(coldFirst = false).iterator
      while (kinds.hasNext && wall < o.seconds + overrunLimitS) {
        val kind = kinds.next()
        // alternate per op type, half of the types starting traced
        runOp(kind, o.trace && (seen(kind) + kind) % 2 == 0)
        seen(kind) += 1
      }
      cycleS = elapsed - c0
      cycles += 1
    }

    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    // the heap the session still holds after its ops, where a leak shows:
    // full collections, with pauses for Spark's cleaner to drop what became
    // unreachable, until the heap in use stops shrinking
    val heap = ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var retainedHeapMb = collect()
    var settled = false
    for (_ <- 1 to 8 if !settled) {
      Thread.sleep(250)
      val next = collect()
      settled = next > retainedHeapMb - 1
      retainedHeapMb = math.min(retainedHeapMb, next)
    }
    val spans = tracer.all
    spark.stop()

    val report = Report(o, w, cold.toSeq, warmUp, records.drop(warmUp.size).toSeq, spans,
      setupS.toSeq, jvmStartS, peakRssMb, retainedHeapMb, inputs)
    if (o.trace) {
      Files.createDirectories(o.out)
      Files.writeString(o.out.resolve(s"trace-${o.workload}-seed${o.seed}.json"),
        Json.write(Map("workload" -> o.workload, "seed" -> o.seed,
          "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
            "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
            "op" -> s.op)),
          "ops" -> records.map(r => Map("op" -> r.index, "type" -> w.opTypes(r.kind),
            "seconds" -> r.seconds, "traced" -> r.traced, "error" -> r.error,
            "codegen_s" -> r.codegenS, "facts" -> r.facts,
            "spark" -> r.counts.map(_.sums).getOrElse(Map.empty))),
          "layers" -> report("layers"))))
    }
    report
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

/** Turns a run's op records, spans and listener counts into metrics. */
object Report {
  import Main.OpRecord

  /** The `q`-quantile of `xs`, interpolated linearly between order
    * statistics.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val at = q * (s.size - 1)
    val i = at.toInt
    if (i + 1 >= s.size) s.last else s(i) + (at - i) * (s(i + 1) - s(i))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  val tailQuantile = 0.9

  /** Latency and throughput come from the measured ops; the answers of the
    * cold and warm-up ops count toward `failed` as well.
    *
    * The op types of a workload differ in latency by up to 25x, so a
    * percentile over all ops lands on whichever type sits at that rank,
    * and moves from type to type between runs. The latency metrics are
    * therefore per type and then a geometric mean over the types, where a
    * type that gets k times faster moves the metric as much as any other.
    */
  def apply(o: Main.Opts, w: Workload, cold: Seq[OpRecord], warmUp: Seq[OpRecord],
            records: Seq[OpRecord], spans: Seq[Span], setupS: Seq[Double],
            jvmStartS: Double, peakRssMb: Double, retainedHeapMb: Double,
            inputs: Map[String, Double]): Map[String, Any] = {
    val lat = records.map(_.seconds)
    val ok = records.filter(_.error.isEmpty)
    val unmeasured = cold ++ warmUp
    val attempted = unmeasured.size + records.size
    val failed = attempted - ok.size - unmeasured.count(_.error.isEmpty)
    val byType = w.opTypes.indices.map(k => records.filter(_.kind == k).map(_.seconds))
      .filter(_.nonEmpty)
    val e2e = Map(
      "setup_s" -> (jvmStartS + median(setupS)),
      // a mean, not a median: the rate of whole cycles of the mix
      "ops_per_s" -> ok.size / lat.sum,
      "op_p50_s" -> geomean(byType.map(median)),
      "op_tail_s" -> geomean(byType.map(quantile(_, tailQuantile))),
      // the first op of each session: the JVM is cold in the first only
      "cold_op_s" -> median(cold.map(_.seconds) :+ warmUp.head.seconds),
      "retained_heap_mb" -> retainedHeapMb)

    val perType = w.opTypes.indices.map { k =>
      val xs = records.filter(_.kind == k).map(_.seconds)
      w.opTypes(k) -> Map("n" -> xs.size,
        "p50_s" -> (if (xs.isEmpty) 0.0 else median(xs)),
        "tail_s" -> (if (xs.isEmpty) 0.0 else quantile(xs, tailQuantile)))
    }.toMap

    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "seconds" -> o.seconds,
      "attempted" -> attempted, "failed" -> failed, "correct" -> (failed == 0),
      "e2e" -> e2e,
      "layers" -> (if (o.trace) layers(o, records, spans) + ("jvm.peak_rss_mb" -> peakRssMb)
                   else Map.empty),
      "details" -> Map(
        "peak_rss_mb" -> peakRssMb,
        "cold_ops_s" -> (cold.map(_.seconds) :+ warmUp.head.seconds),
        "failed_ratio" -> failed.toDouble / attempted,
        "bytes_written_per_input_byte" -> bytesWrittenPerInputByte(records),
        "setup_reps_s" -> setupS, "jvm_start_s" -> jvmStartS,
        "measured_s" -> lat.sum, "check_s" -> records.map(_.checkS).sum,
        "inputs" -> inputs, "per_type" -> perType,
        "warm_up_s" -> warmUp.map(_.seconds),
        "ops" -> records.map(r => Seq(w.opTypes(r.kind), r.seconds)),
        "errors" -> (unmeasured ++ records).flatMap(_.error).take(5)))
  }

  /** Parquet bytes the ops' loads wrote over the CSV bytes they read; 0
    * where no op loads.
    */
  def bytesWrittenPerInputByte(records: Seq[OpRecord]): Double = {
    val loads = records.filter(_.facts.contains("csv_bytes"))
    if (loads.isEmpty) 0.0
    else loads.map(_.facts("sink_bytes")).sum / loads.map(_.facts("csv_bytes")).sum
  }

  def layers(o: Main.Opts, records: Seq[OpRecord], spans: Seq[Span]): Map[String, Double] = {
    val traced = records.filter(_.traced)
    val untraced = records.filterNot(_.traced)
    def rate(rs: Seq[OpRecord]) =
      if (rs.isEmpty) 0.0 else rs.count(_.error.isEmpty) / rs.map(_.seconds).sum
    val opS = traced.map(_.seconds).sum
    def sum(k: String) = traced.map(_.counts.get(k)).sum
    def perOp(k: String) = if (traced.isEmpty) 0.0 else sum(k) / traced.size
    // seconds per op in the named span, over the ops that call it
    def spanS(name: String) = {
      val byOp = spans.filter(s => s.name == name && s.op >= 0).groupBy(_.op)
      if (byOp.isEmpty) 0.0 else byOp.values.map(_.map(_.seconds).sum).sum / byOp.size
    }
    // mean of a fact over the traced ops that measured it
    def fact(k: String) = {
      val xs = traced.flatMap(_.facts.get(k))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val loads = traced.filter(_.facts.contains("rows_loaded"))
    val clusterOps = spans.filter(s => s.name == "operators.dup_clusters" && s.op >= 0)
    val clusterJobs = clusterOps.map { s =>
      traced.find(_.index == s.op).flatMap(_.counts).map(_.jobStartsMs
        .count(t => t >= s.startMs && t <= s.endMs)).getOrElse(0)
    }
    // op wall not covered by any stage
    val driverOnly = traced.map { r =>
      val iv = r.counts.get.stageIntervals
        .map { case (a, b) => (math.max(a, r.startMs), math.min(b, r.endMs)) }
        .filter { case (a, b) => b > a }.sorted
      var covered, reach = 0L
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      math.max(0.0, r.seconds - covered / 1e3)
    }
    Map(
      "GraftSession.start_s" -> {
        val s = spans.filter(s => s.name == "GraftSession.start")
        s.map(_.seconds).sum / math.max(s.size, 1)
      },
      "sources.csv_read_s" -> (if (loads.isEmpty) 0.0
        else loads.map(_.counts.get("input_stage_task_s")).sum / loads.size),
      "sources.csv_rows_parsed_per_row_loaded" ->
        (if (loads.isEmpty) 0.0
         else loads.map(_.counts.get("input_records")).sum / loads.map(_.facts("rows_loaded")).sum),
      "sources.sink_write_s" -> spanS("sources.sink_write"),
      "sources.sink_files" -> fact("sink_files"),
      "sources.sink_bytes" -> fact("sink_bytes"),
      "bytes_written_per_input_byte" -> bytesWrittenPerInputByte(records),
      "sources.catalog_register_s" -> spanS("sources.catalog_register"),
      "sources.scan_files_per_op" -> perOp("scan_files"),
      "sources.scan_bytes_per_op" -> perOp("scan_bytes"),
      "pipeline.build_s" -> spanS("pipeline.build"),
      "pipeline.recode_s" -> spanS("pipeline.recode"),
      "operators.balance_count_s" -> spanS("operators.balance_count"),
      "operators.balance_max_file_rows_ratio" -> fact("max_file_rows_ratio"),
      "operators.exact_dedup_s" -> spanS("operators.exact_dedup"),
      "operators.minhash_pairs_s" -> spanS("operators.minhash_pairs"),
      "operators.dup_clusters_s" -> spanS("operators.dup_clusters"),
      "operators.dup_clusters_jobs" ->
        (if (clusterJobs.isEmpty) 0.0 else clusterJobs.sum.toDouble / clusterJobs.size),
      "operators.chunk_s" -> spanS("operators.chunk"),
      "operators.pack_s" -> spanS("operators.pack"),
      "SparkEntry.build_s" -> spanS("SparkEntry.build"),
      "plans.analysis_s" -> perOp("analysis_s"),
      "plans.optimization_s" -> perOp("optimization_s"),
      "plans.planning_s" -> perOp("planning_s"),
      "spark.codegen_compile_s" ->
        (if (traced.isEmpty) 0.0 else traced.map(_.codegenS).sum / traced.size),
      "spark.jobs_per_op" -> perOp("jobs"),
      "spark.stages_per_op" -> perOp("stages"),
      "spark.tasks_per_op" -> perOp("tasks"),
      "spark.task_wait_s" -> perOp("task_wait_s"),
      "spark.driver_only_s" -> (if (traced.isEmpty) 0.0 else driverOnly.sum / traced.size),
      "spark.task_busy_s" -> perOp("task_busy_s"),
      "spark.cpu_s" -> perOp("cpu_s"),
      "spark.gc_s" -> perOp("gc_s"),
      "spark.core_utilisation" ->
        (if (opS == 0) 0.0 else sum("task_busy_s") / (opS * o.cores)),
      "spark.shuffle_write_bytes" -> perOp("shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> perOp("shuffle_read_bytes"),
      "spark.spill_bytes" -> perOp("spill_bytes"),
      "spark.failed_tasks" -> sum("failed_tasks"),
      "trace.overhead_ops_per_s" -> (rate(traced) - rate(untraced)))
  }
}
