package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import com.sun.management.GarbageCollectionNotificationInfo

import graft.{Session, SparkEntry, Tables}

/** Closed-loop benchmark driver: one client runs the workload's queries in
  * a fixed order, each built through `SparkEntry.queries` and materialized
  * to the `noop` sink before the next one starts.
  *
  * Phases: session build, input registration, two untimed warmup passes
  * (the first also writes every query's result to parquet for the oracle
  * compare; codegen is counted over it, while the compile cache is cold),
  * then `passes` timed passes. With `--trace 1` every timed pass runs
  * twice, once plain and once traced; the traced copy records spans around
  * each layer's public entry point, a [[Recorder]] collects job, stage and
  * task metrics and the Catalyst phase times of every query, and kernel
  * probes time each native SQL function on the run's inputs.
  *
  * Everything lands in `<out>/driver.json` (and `<out>/spans.jsonl` when
  * traced), written once at the end.
  *
  * Arguments: --data DIR --out DIR --queries q1,q2,.. --passes N
  *            --trace 0|1 --cpus N --run-id ID
  */
object Driver {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val out = opt("out")
    val names = opt("queries").split(",").toSeq
    val passes = opt("passes").toInt
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val clock = new Clock
    val jvmToMainS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val load1Start = Proc.load1()
    val heapAfterGc = new HeapAfterGc
    val tracer = new Tracer(clock, opt("run-id"))

    val (spark, buildS) = timed(tracer.span("session.build") {
      Session.builder(cpus).getOrCreate()
    })
    // A persisted intermediate can be served across passes from the
    // CacheManager, so timed runs would measure cache hits.
    require(!spark.conf.getOption("spark.graft.materialize").contains("persist"),
      "spark.graft.materialize=persist must not be set for a benchmark run")
    spark.sparkContext.setLogLevel("WARN")
    val recorder = new Recorder
    if (traced) spark.sparkContext.addSparkListener(recorder)

    val (_, openS) = timed(tracer.span("tables.open") {
      Tables.names.foreach(t => Tables(spark, data, t).schema)
    })
    // The first warmup pass doubles as the check pass: it runs every query
    // once on the same inputs and writes the result for the oracle compare.
    val fns = SparkEntry.queries
    val results = Paths.get(out, "results")
    val warmupErrors = ArrayBuffer.empty[(String, String)]
    val compileNs0 = CodeGenerator.compileTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var coldCompileNs = 0L
    var coldCompiles = 0L
    val (_, warmupS) = timed(tracer.span("warmup") {
      names.foreach { q =>
        try fns(q)(spark, data).write.mode("overwrite").parquet(results.resolve(q).toString)
        catch { case NonFatal(e) => warmupErrors += q -> message(e) }
      }
      coldCompileNs = CodeGenerator.compileTime - compileNs0
      coldCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      // A second, plain pass: after one pass the JIT is still compiling and
      // the first timed pass would read about a fifth slower than the rest.
      names.filterNot(q => warmupErrors.exists(_._1 == q)).foreach { q =>
        try materialize(fns(q)(spark, data))
        catch { case NonFatal(e) => warmupErrors += q -> message(e) }
      }
    })
    val setupS = jvmToMainS + buildS + openS + warmupS

    val samples = ArrayBuffer.empty[Sample]
    val plainPasses = ArrayBuffer.empty[Double]
    val tracedPasses = ArrayBuffer.empty[Double]
    val tracedWindows = ArrayBuffer.empty[(Long, Long)]
    if (traced) spark.listenerManager.register(recorder)

    val passDetail = ArrayBuffer.empty[String]
    def runPass(p: Int, withTrace: Boolean): Double = {
      val d0 = Proc.counters()
      val t0 = clock.now()
      names.foreach { q =>
        val s0 = System.nanoTime()
        val err =
          try {
            if (withTrace) tracedQuery(tracer, recorder, spark, fns(q), data, q)
            else materialize(fns(q)(spark, data))
            None
          } catch { case NonFatal(e) => Some(message(e)) }
        if (!withTrace) samples += Sample(q, p, (System.nanoTime() - s0) / 1e9, err)
      }
      val t1 = clock.now()
      if (!withTrace) passDetail += Proc.detail(d0, Proc.counters(), (t1 - t0) / 1e9)
      if (withTrace) tracedWindows += t0 -> t1
      (t1 - t0) / 1e9
    }

    // Traced and plain passes alternate which goes first, so neither gains
    // from running later in the JVM's warm-up.
    def tracedPass(p: Int): Unit =
      if (traced) tracedPasses += tracer.span("pass")(runPass(p, withTrace = true))
    (0 until passes).foreach { p =>
      if (p % 2 == 1) tracedPass(p)
      plainPasses += runPass(p, withTrace = false)
      if (p % 2 == 0) tracedPass(p)
    }
    // Program memory: the heap it occupies after collection plus what it
    // holds outside the heap. The heap itself is fixed and pre-touched, so
    // raw VmHWM would read the configured heap size whatever the program did.
    val vmHwmMb = Proc.vmHwmMb()
    val heapCommittedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
    val heapAfterGcMb = heapAfterGc.peakMb
    val offHeapMb = vmHwmMb - heapCommittedMb
    val load1End = Proc.load1()

    val kernels =
      if (traced) KernelProbes.run(spark, data, cpus.toInt, recorder, clock) else Nil

    val oracle = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))

    if (traced) PerfbenchBridge.flushListeners(spark.sparkContext)
    spark.stop()

    val spans = if (traced) tracer.spans.toSeq ++ recorder.spans(tracer) else Nil
    val layer =
      if (traced) recorder.summary(tracedWindows.toSeq, tracedPasses.length, cpus.toInt) ++
        spanMetrics(spans, tracedPasses.length)
      else Map.empty[String, Double]
    val json = Json.obj(Seq(
      "setup" -> Json.obj(Seq(
        "jvm_to_main_s" -> Json.num(jvmToMainS),
        "session_build_s" -> Json.num(buildS),
        "tables_open_s" -> Json.num(openS),
        "warmup_s" -> Json.num(warmupS),
        "setup_s" -> Json.num(setupS))),
      "samples" -> Json.arr(samples.toSeq.map(s => Json.obj(Seq(
        "q" -> Json.str(s.query), "pass" -> Json.num(s.pass),
        "s" -> Json.num(s.seconds)) ++
        s.error.map(e => "error" -> Json.str(e))))),
      "pass_s" -> Json.arr(plainPasses.toSeq.map(Json.num)),
      "pass_detail" -> Json.arr(passDetail.toSeq),
      "traced_pass_s" -> Json.arr(tracedPasses.toSeq.map(Json.num)),
      "memory" -> Json.obj(Seq(
        "vm_hwm_mb" -> Json.num(vmHwmMb),
        "heap_committed_mb" -> Json.num(heapCommittedMb),
        "heap_after_gc_peak_mb" -> Json.num(heapAfterGcMb),
        "off_heap_peak_mb" -> Json.num(offHeapMb),
        "peak_rss_mb" -> Json.num(heapAfterGcMb + offHeapMb))),
      "load1" -> Json.arr(Seq(load1Start, load1End).map(Json.num)),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors),
      "master" -> Json.str(s"local[$cpus]"),
      "warmup_errors" -> errorMap(warmupErrors.toSeq),
      "oracle_sql" -> Json.obj(oracle.map { case (q, sql) => q -> Json.str(sql) }),
      "layers" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) } ++
        Seq("session.build_s" -> Json.num(buildS),
          "tables.open_s" -> Json.num(openS),
          "plans.codegen_compile_s" -> Json.num(coldCompileNs / 1e9),
          "plans.codegen_compiles" -> Json.num(coldCompiles.toDouble)) ++
        kernels.map { case (k, v) => k -> Json.num(v) })))
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "driver.json"), json.getBytes(UTF_8))
    if (traced) Files.write(Paths.get(out, "spans.jsonl"),
      spans.map(_.json(tracer.runId)).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Per-pass busy time of each wrapped layer, jobs launched during query
    * construction, and self time per span name, over the traced passes.
    */
  private def spanMetrics(spans: Seq[Span], passes: Int): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    val byId = spans.map(s => s.id -> s).toMap
    def busy(name: String): Double =
      spans.filter(s => s.name == name && s.query.nonEmpty).map(s => s.end - s.start).sum / 1e9 / n
    val buildJobs = spans.count(s => s.name == "spark.job" &&
      byId.get(s.parent).exists(p => p.name == "queries.build" && p.query.nonEmpty))
    Map(
      "queries.build_s" -> busy("queries.build"),
      "queries.build_jobs" -> buildJobs / n,
      "plans.analyze_s" -> busy("plans.analyze"),
      "plans.optimize_s" -> busy("plans.optimize"),
      "plans.physical_s" -> busy("plans.physical")) ++
      SelfTime.perName(spans).map { case (k, v) => s"trace.self.${k}_s" -> v / n }
  }

  final case class Sample(query: String, pass: Int, seconds: Double, error: Option[String])

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One traced execution: construction, then the noop write. The
    * Catalyst phases are not forced here, which would plan the query a
    * second time: the analysis of the built query comes from its own
    * QueryExecution, optimization and planning from the write's, which the
    * [[Recorder]] receives as a QueryExecutionListener.
    */
  private def tracedQuery(tracer: Tracer, recorder: Recorder, spark: SparkSession,
                          fn: (SparkSession, String) => DataFrame,
                          data: String, q: String): Unit =
    tracer.span("query", q) {
      val df = tracer.span("queries.build")(fn(spark, data))
      df.queryExecution.tracker.phases.get("analysis").foreach(recorder.addPhase("analysis", _))
      tracer.span("exec.execute")(materialize(df))
    }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  private def errorMap(errs: Seq[(String, String)]): String =
    Json.obj(errs.map { case (q, m) => q -> Json.str(m) })
}

/** Epoch-aligned nanosecond clock, so benchmark spans and the listener's
  * millisecond event times share one time line.
  */
final class Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epochNs0 + (System.nanoTime() - nano0)
}

/** /proc readings for run metadata and peak memory. */
object Proc {
  /** JIT compile ms, process CPU ns, box steal ticks and box total ticks. */
  def counters(): Array[Long] = {
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    val t = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
      .split("\n")(0).split("\\s+").drop(1).map(_.toLong)
    Array(jit, cpu, t(7), t.sum)
  }

  def detail(a: Array[Long], b: Array[Long], wallS: Double): String = Json.obj(Seq(
    "wall_s" -> Json.num(wallS), "jit_ms" -> Json.num((b(0) - a(0)).toDouble),
    "cpu_s" -> Json.num((b(1) - a(1)) / 1e9),
    "steal" -> Json.num((b(2) - a(2)).toDouble / math.max(1L, b(3) - a(3)))))

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** VmHWM: the process's high-water resident set, in MB. */
  def vmHwmMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }
}

/** Peak heap occupancy right after a collection, over every collection
  * from construction on, summed over the heap pools.
  */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
        val used = after.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }, null, null)
    case _ =>
  }

  def peakMb: Double = peak.get / 1048576.0
}

/** Minimal JSON writer for the driver's one output file. */
object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def num(x: Int): String = x.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
