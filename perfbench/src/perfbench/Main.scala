package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Closed-loop benchmark driver: one JVM, `local[threads]`, one client, one op
  * at a time. Usage (normally started by run.py):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --threads <n> --work <dir> --out <result.json>
  *
  * Timeline of a run: session start; the workload's setup; its warm-up ops;
  * then timed ops while the next op is expected to end within `--seconds`
  * of op time, at least [[MinOps]]. `setup_s` runs from JVM start to the
  * first timed op, less the time the benchmark spends checking and deleting
  * outputs. Every op is checked outside its timed region. With `--trace 1`
  * half the time goes to untraced ops (at least one) and half to traced ops,
  * followed by the per-layer probes.
  */
object Main {

  /** Lower bound on timed ops per phase. Op times still fall from op to op
    * (the JIT is not done), so the median of a run must not depend on how
    * many ops fit: with `--seconds` below three op times a run times
    * exactly three. */
  val MinOps = 3

  /** `cpuS` is the CPU time of the whole JVM during the op, `jitMs` JIT
    * compiler time and `codegen` Spark's generated classes compiled. */
  final case class OpRecord(seconds: Option[Double], error: Option[String],
                            filesWritten: Long, bytesWritten: Long,
                            jitMs: Long = 0L, codegen: Long = 0L, cpuS: Double = 0.0)

  /** Spark's compiled-class cache holds 100 entries by default. The op of
    * `validate-full` alone generates about 150 classes, and the output
    * checks add their own, so at the default every op would recompile
    * classes the previous op and check evicted. */
  val CodegenCacheEntries = 2000

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val threads = a("threads").toInt
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionS = sinceJvmStart()

    val w = Workload(workloadName, spark, seed, work.resolve("data").toString)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val errors = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var opIndex = 0
    /** Seconds spent checking and deleting outputs, outside any timing. */
    var checkS = 0.0

    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    /** One op: timed, then checked and cleaned outside the timed region. */
    def runOp(t: Tracer): OpRecord = {
      val i = opIndex; opIndex += 1
      val rec = try {
        val j0 = jit.getTotalCompilationTime
        val cpu0 = os.getProcessCpuTime
        val g0 = codegen.getCount
        val t0 = System.nanoTime()
        w.op(i, t)
        val s = (System.nanoTime() - t0) / 1e9
        val jitMs = jit.getTotalCompilationTime - j0
        val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
        val compiled = codegen.getCount - g0
        val c0 = System.nanoTime()
        val (files, bytes) = w.written(i)
        val problems = w.check(i)
        checkS += (System.nanoTime() - c0) / 1e9
        if (problems.isEmpty) OpRecord(Some(s), None, files, bytes, jitMs, compiled, cpuS)
        else OpRecord(None, Some(s"op $i output check failed: ${problems.mkString("; ")}"), files, bytes)
      } catch {
        case e: Throwable => OpRecord(None, Some(s"op $i failed: $e"), 0L, 0L)
      }
      checkS += Stats.time {
        try w.cleanup(i) catch { case e: Throwable => errors += s"op $i cleanup failed: $e" }
        spark.catalog.clearCache()
      }
      records += rec
      rec.error.foreach(errors += _)
      rec
    }

    /** Closed loop: the next op starts while it is expected to end within
      * `budget` seconds of op time (checks not counted), and at least MinOps
      * run. A failed op counts with its time to the failure and check. */
    def loop(budget: Double, t: Tracer, minOps: Int = MinOps): Seq[OpRecord] = {
      val recs = mutable.ArrayBuffer.empty[OpRecord]
      var spent = 0.0
      var last = 0.0
      while (spent + last <= budget || recs.size < minOps) {
        val t0 = System.nanoTime()
        val rec = runOp(t)
        recs += rec
        last = rec.seconds.getOrElse((System.nanoTime() - t0) / 1e9)
        spent += last
      }
      recs.toSeq
    }

    try {
      info("setup_workload_s") = Stats.time(w.setup())
      val prepareS = Stats.time(w.prepareChecks())
      checkS += prepareS
      info("prepare_checks_s") = prepareS
      val warm = (0 until w.warmupOps).map(_ => runOp(new Tracer(spark.sparkContext, false)))
      val warmS = warm.flatMap(_.seconds).sum
      val setupS = sinceJvmStart() - checkS
      info("setup_s") = setupS
      // a traced run keeps one untraced op as the reference for the overhead
      val untraced = if (trace) loop(seconds / 2, new Tracer(spark.sparkContext, false), 1)
                     else loop(seconds, new Tracer(spark.sparkContext, false))
      val times = untraced.flatMap(_.seconds)
      val jobS = Stats.median(times)
      info("timed_ops") = times.size
      info("warmup_s") = warm.flatMap(_.seconds)
      info("op_seconds") = times

      val cpuS = Stats.median(untraced.filter(_.error.isEmpty).map(_.cpuS))
      info("job_s") = jobS
      info("rows_per_s") = w.rowsPerOp / jobS

      if (!trace) {
        e2e("cpu_s") = (cpuS, "s")
        e2e("setup_s") = (setupS, "s")
      } else {
        val tracer = new Tracer(spark.sparkContext, true)
        val traced = loop(seconds / 2, tracer)
        val probes = w.probes(tracer, jobS)
        tracer.close()
        layer ++= layerMetrics(tracer, traced, probes, w, threads)
        layer("job_s") = (jobS, "s")
        layer("rows_per_s") = (w.rowsPerOp / jobS, "rows/s")
        layer("setup.codegen_compiles") = (warm.map(_.codegen).sum.toDouble, "count")
        layer("trace.overhead_s") = (layer("trace.job_s")._1 - jobS, "s")
        layer("setup.session_s") = (sessionS, "s")
        layer("setup.warmup_s") = (warmS, "s")
        info("traced_ops") = traced.count(_.seconds.isDefined)
        info("not_exercised") = Probes.All.map(_._1).filterNot(probes.contains) ++
          SpanMetrics.filterNot(n => tracer.spans.exists(_.name == n)).map(_ + "_s") ++
          (if (w.synthSeconds == 0.0) Seq("tokens.synth_s") else Nil)
        Files.write(work.getParent.resolve(s"trace-$workloadName-seed$seed.jsonl"),
          tracer.spans.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start,
            "end_ns" -> s.end, "self_s" -> tracer.selfSeconds(s)))).mkString("\n")
            .getBytes("UTF-8"))
      }
    } catch {
      case e: Throwable => errors += s"run aborted: $e"
    }

    val failed = records.count(_.error.nonEmpty)
    info("op_jit_ms") = records.map(_.jitMs).toSeq
    info("op_cpu_s") = records.map(_.cpuS).toSeq
    info("op_codegen_compiles") = records.map(_.codegen).toSeq
    info("check_s") = checkS
    info("session_s") = sessionS
    info("before_stop_s") = sinceJvmStart()
    info("ops_failed_frac") = if (records.isEmpty) 1.0 else failed.toDouble / records.size
    info("errors") = errors.toSeq
    info("jvm_max_heap_mb") = Runtime.getRuntime.maxMemory / (1L << 20)
    info("spark_version") = spark.version
    val metrics = (if (trace) layer else e2e).toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> v, "unit" -> u))
    }
    val result = Json.obj(Seq(
      "correct" -> errors.isEmpty,
      "attempted" -> math.max(records.size, 1),
      "failed" -> (if (records.isEmpty) 1 else failed),
      "metrics" -> Json.raw(Json.obj(metrics.map { case (k, v) => k -> Json.raw(v) })),
      "info" -> Json.raw(Json.obj(info.toSeq))))
    Files.write(out, result.getBytes("UTF-8"))
    spark.stop()
  }

  /** Spans whose summed time per op is a per-layer metric (`<name>_s`). */
  val SpanMetrics = Seq("run.build", "compile.plan", "run.exec", "snapshot.manifest_append")

  /** Per-layer metrics of the traced run. The Spark work is the median over
    * the traced ops of what the listener charged to each. The step spans
    * (`run.build` and the others in [[SpanMetrics]]) are medians over the
    * top-level spans that contain them: the traced ops of a workload whose
    * op is a sequence of public calls, else its step probe. */
  private def layerMetrics(tracer: Tracer, traced: Seq[OpRecord], probes: Map[String, Double],
                           w: Workload, threads: Int): Seq[(String, (Double, String))] = {
    val ops = tracer.opSpans.filter(_.name == "op")
    def med(f: Span => Double): Double = Stats.median(ops.map(f))
    val work = ops.map(s => s -> tracer.sparkOf(s)).toMap
    def sp(f: SparkAgg => Double): Double = med(s => f(work(s)))
    val stepOps = tracer.opSpans.filter(o => tracer.spans.exists(x => x.op == o.op && x.name == "run.build"))
    def stepMed(f: Span => Double): Double =
      if (stepOps.isEmpty) 0.0 else Stats.median(stepOps.map(f))
    val ok = traced.filter(_.error.isEmpty)
    Seq(
      "trace.job_s" -> (Stats.median(traced.flatMap(_.seconds)), "s"),
      "op.self_s" -> (stepMed(tracer.selfSeconds), "s")) ++
    SpanMetrics.map(n => s"${n}_s" -> (stepMed(s => tracer.secondsIn(s.op, n)), "s")) ++
    Seq(
      "run.build_jobs" -> (stepMed(s => tracer.spans.filter(x => x.op == s.op && x.name == "run.build")
        .map(x => tracer.sparkOf(x).jobs).sum.toDouble), "count"),
      "snapshot.files_written" -> (Stats.median(ok.map(_.filesWritten.toDouble)), "count"),
      "snapshot.bytes_written" -> (Stats.median(ok.map(_.bytesWritten.toDouble)), "bytes"),
      "spark.jobs" -> (sp(_.jobs.toDouble), "count"),
      "spark.tasks" -> (sp(_.tasks.toDouble), "count"),
      "spark.task_s" -> (sp(_.taskMs / 1e3), "s"),
      "spark.core_util" -> (med(s => work(s).taskMs / 1e3 / (threads * s.seconds)), "ratio"),
      "spark.task_skew" -> (sp(_.taskSkew), "ratio"),
      "spark.shuffle_write_mb" -> (sp(_.shuffleWriteBytes / 1e6), "MB"),
      "spark.spill_mb" -> (sp(_.spillBytes / 1e6), "MB"),
      "spark.gc_s" -> (sp(_.gcMs / 1e3), "s"),
      "spark.failed_tasks" -> (sp(_.failedTasks.toDouble), "count"),
      "spark.codegen_compiles" -> (Stats.median(ok.map(_.codegen.toDouble)), "count"),
      "jvm.jit_ms" -> (Stats.median(ok.map(_.jitMs.toDouble)), "ms")) ++
    Probes.All.map { case (n, unit) => n -> (probes.getOrElse(n, 0.0), unit) } ++
    Seq(
      "tokens.synth_s" -> (w.synthSeconds, "s"),
      "peak_rss_mb" -> (Stats.peakRssMb(), "MB"))
  }
}

object Stats {
  def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** VmHWM (peak resident set) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** (files, bytes) under `dir`, recursively; (0, 0) when absent. */
  def usage(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var files = 0L; var bytes = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => files += 1; bytes += Files.size(f) }
        (files, bytes)
      } finally s.close()
    }
  }

  def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
