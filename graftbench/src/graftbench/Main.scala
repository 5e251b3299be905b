package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. `tiny` shrinks every input for
  * the benchmark's own tests. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    tiny: Boolean, work: String, threads: Int) {
  def path(name: String): String = s"$work/$name"
}

/** Answer checks: a call that threw or returned a wrong answer counts as
  * failed. The first messages are kept for the report. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  /** Count one checked call; `errors` holds what was wrong with it. */
  def call(what: String, errors: Seq[String]): Unit = {
    attempted += 1
    if (errors.nonEmpty) {
      failed += 1
      if (notes.length < 20) notes += s"$what: ${errors.take(3).mkString("; ")}"
    }
  }

  /** A whole-run condition (a recall floor, a conservation law). */
  def require(ok: Boolean, what: => String): Unit = call(what, if (ok) Nil else Seq("violated"))
}

/** One workload. `setup` runs once untimed, to warm the JVM, then several
  * times timed as `setup_s`; `afterSetup` (oracle) and `prepare` are
  * untimed; `pass` is a fixed amount of work. The first `warmups` passes
  * are untimed; every pass is checked by `check` after its timer stops. */
trait Workload {
  /** Untimed passes before the timed ones. */
  def warmups: Int = 1
  /** Untraced and traced passes of a traced run. */
  def tracePasses: Int = 1
  def setup(ctx: Ctx): Unit
  def afterSetup(ctx: Ctx): Unit
  def prepare(ctx: Ctx, pass: Int): Unit
  def pass(ctx: Ctx, pass: Int): Unit
  def check(ctx: Ctx, pass: Int, checks: Checks): Unit
  /** End-to-end metrics other than setup_s, run_s and cpu_s. */
  def endToEnd(ctx: Ctx): Map[String, Double]
  def reportOnly(ctx: Ctx): Map[String, Double]
  /** Named per-layer metrics this workload measures (others read 0). */
  def perLayer(ctx: Ctx): Map[String, Double]
}

object Main {

  private def usage(): Nothing = {
    System.err.println("usage: graftbench.Main --workload <ann_bulk|ann_online|text_curation> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir> [--tiny]")
    sys.exit(2)
  }

  def workload(name: String): Workload = name match {
    case "ann_bulk" => new AnnBulk
    case "ann_online" => new AnnOnline
    case "text_curation" => new TextCuration
    case _ => usage()
  }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Fixed single-thread work; its time rises when the machine is shared. */
  private def sentinelMs(): Double = {
    def work(): Long = {
      var x = 88172645463325252L; var acc = 0L; var i = 0
      while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 1023; i += 1 }
      acc
    }
    work()
    val t0 = System.nanoTime()
    val sink = work()
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == 42) println("") // keeps the loop from being optimised away
    ms
  }

  /** Timed set-ups per untraced run; `setup_s` is their median. */
  val Setups = 3

  /** Passes (counting the warm-up) whose answers make the recall figures,
    * so they repeat exactly for a seed whatever the pass count. */
  val RecallPasses = 2

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = kv.getOrElse("workload", usage())
    val seed = kv.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = kv.get("seconds").map(_.toDouble).getOrElse(usage())
    val trace = kv.get("trace").map(_ == "1").getOrElse(usage())
    val work = kv.getOrElse("work", usage())
    val outDir = kv.getOrElse("out", usage())
    val tiny = args.contains("--tiny")
    val w = workload(name)
    val nproc = Runtime.getRuntime.availableProcessors()

    val clock = mutable.ArrayBuffer(("jvm", java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    def mark(what: String): Unit = clock += ((what, System.currentTimeMillis()))
    val load0 = loadAvg()
    val sentinel0 = sentinelMs()
    mark("sentinel")
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    mark("session")
    val runId = s"$name-$seed-${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    val tracer = new Tracer(sc, runId)
    val counters = new Counters
    if (trace) { sc.addSparkListener(counters); spark.listenerManager.register(counters) }
    val ctx = Ctx(spark, tracer, seed, tiny, work, nproc)
    val checks = new Checks

    val setupS = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    var overheadS = 0.0
    var error: Option[Throwable] = None
    try {
      // set-up 0 loads classes and compiles code for the timed ones
      tracer.recording = false
      w.setup(ctx)
      tracer.recording = true
      mark("warmup_setup")
      (0 until (if (trace) 1 else Setups)).foreach { _ =>
        tracer.enabled = trace
        val t0 = System.nanoTime()
        w.setup(ctx)
        setupS += (System.nanoTime() - t0) / 1e9
        tracer.enabled = false
        mark("setup")
      }
      w.afterSetup(ctx)
      mark("after_setup")
      var i = 0
      def onePass(traced: Boolean): Double = {
        val timed = i >= w.warmups
        w.prepare(ctx, i)
        tracer.enabled = traced
        tracer.recording = timed
        val c0 = processCpuS()
        val t0 = System.nanoTime()
        try tracer.span("pass")(w.pass(ctx, i))
        finally { tracer.enabled = false; tracer.recording = true }
        val dt = (System.nanoTime() - t0) / 1e9
        if (timed) { passS += dt; passCpu += processCpuS() - c0 }
        mark(if (timed) "pass" else "warmup")
        w.check(ctx, i, checks)
        mark("check")
        i += 1
        dt
      }
      // the warm-up passes finish class loading, codegen and JIT
      while (i < w.warmups) onePass(traced = false)
      if (trace) {
        // untraced and traced passes of the same work differ by the
        // tracing overhead
        val plain = (1 to w.tracePasses).map(_ => onePass(traced = false)).sum
        overheadS = (1 to w.tracePasses).map(_ => onePass(traced = true)).sum - plain
      } else {
        val t0 = System.nanoTime()
        var last = 0.0
        while (i == w.warmups || (System.nanoTime() - t0) / 1e9 + last <= seconds)
          last = onePass(traced = false)
      }
    } catch { case e: Throwable => error = Some(e) }

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.LinkedHashMap.empty[String, Double]
    error.foreach { e =>
      checks.call("run", Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      e.printStackTrace()
    }
    if (error.isEmpty) {
      e2e("setup_s") = Metrics.median(setupS.toSeq)
      e2e("run_s") = Metrics.median(passS.toSeq)
      e2e ++= w.endToEnd(ctx)
      e2e("cpu_s") = Metrics.median(passCpu.toSeq)
      report ++= w.reportOnly(ctx)
      if (trace) {
        val named = w.perLayer(ctx)
        val cv = counters.values(sc)
        val phaseSpans = tracer.spans.filter(s => Metrics.phaseOf.contains(s.name))
        Metrics.perLayer.foreach { case (n, _) => layer(n) = named.getOrElse(n, 0.0) }
        Metrics.phases.foreach { p =>
          Metrics.counters.foreach { case (c, _) => layer(s"$p.$c") = cv((p, c)) }
          layer(s"$p.driver_ms") = phaseSpans.filter(s => Metrics.phaseOf(s.name) == p)
            .map(s => counters.idleMs(s.startMs, s.endMs)).sum
        }
        val waveSpans = phaseSpans.filter(s => s.name.endsWith("wave") || s.name == "sql_probe.query")
        val waveMs = waveSpans.map(_.durNs / 1e6).sum
        val wavePhases = waveSpans.map(s => Metrics.phaseOf(s.name)).distinct
        if (waveMs > 0) {
          layer("waves.driver_share") = waveSpans.map(s => counters.idleMs(s.startMs, s.endMs)).sum / waveMs
          layer("waves.plan_share") = wavePhases.map(p => cv((p, "plan_ms"))).sum / waveMs
        }
        layer("trace.overhead_s") = overheadS
      }
    }
    report("failed_frac") = if (checks.attempted == 0) 1.0 else checks.failed.toDouble / checks.attempted
    mark("metrics")
    val sentinel1 = sentinelMs()
    val load1 = loadAvg()
    val cpuTotal = processCpuS()

    val units = (Metrics.endToEnd ++ Metrics.reportOnly ++ Metrics.perLayer).toMap
    def line(n: String, v: Double): Unit = println(f"graftbench: $n%-34s ${fmt(v)}%16s ${units(n)}")
    println(s"graftbench: workload=$name seed=$seed trace=${if (trace) 1 else 0} " +
      s"passes=${passS.length} setups=${setupS.length} cores=$nproc")
    e2e.foreach { case (n, v) => line(n, v) }
    report.foreach { case (n, v) => line(n, v) }
    layer.foreach { case (n, v) => line(n, v) }
    if (trace) {
      println("graftbench: span self time (ms, calls):")
      tracer.selfMs.foreach { case (n, ms, k) => println(f"graftbench:   $n%-24s ${ms}%12.1f $k%6d") }
    }
    checks.notes.foreach(n => println(s"graftbench: FAILED $n"))
    println("graftbench: wall clock (s): " + clock.indices.tail.map { i =>
      f"${clock(i)._1} ${(clock(i)._2 - clock(i - 1)._2) / 1e3}%.1f" }.mkString(", "))
    val telemetry = Map("load1_start" -> load0, "load1_end" -> load1,
      "sentinel_ms_start" -> sentinel0, "sentinel_ms_end" -> sentinel1,
      "process_cpu_s" -> cpuTotal, "cores" -> nproc.toDouble)
    println(f"graftbench: telemetry load1 $load0%.2f -> $load1%.2f, sentinel " +
      f"$sentinel0%.1f -> $sentinel1%.1f ms, process cpu $cpuTotal%.1f s")

    val correct = error.isEmpty && checks.failed == 0
    def metricsJson(m: collection.Map[String, Double]): String =
      m.map { case (n, v) => s""""$n": {"value": ${fmt(v)}, "unit": "${units(n)}"}""" }
        .mkString("{", ", ", "}")
    val report1 = s"""{"workload": "$name", "seed": $seed, "trace": ${if (trace) 1 else 0}, """ +
      s""""correct": $correct, "attempted": ${checks.attempted}, "failed": ${checks.failed}, """ +
      s""""passes": ${passS.length}, "pass_s": ${passS.map(fmt).mkString("[", ", ", "]")}, "telemetry": ${telemetry.map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")}, """ +
      s""""report": ${metricsJson(report)}, "calls": ${callsJson(tracer)}, "metrics": ${metricsJson(if (trace) layer else e2e)}}"""
    val outFile = new java.io.File(outDir, s"$name-seed$seed-trace${if (trace) 1 else 0}")
    outFile.getParentFile.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(outFile.getPath + ".json").toPath, report1)
    if (trace) java.nio.file.Files.writeString(new java.io.File(outFile.getPath + ".spans.json").toPath,
      tracer.spans.map(s => s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""run": "${s.runId}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_ns": ${s.durNs}}""")
        .mkString("[\n", ",\n", "\n]\n"))
    println(s"REPORT $report1")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, checks.attempted)}, """ +
      s""""failed": ${checks.failed}, "metrics": ${metricsJson(if (trace) layer else e2e)}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Seconds of every recorded call, by span name, in call order. */
  private def callsJson(t: Tracer): String = t.durations.map { case (n, ds) =>
    s""""$n": ${ds.map(d => f"$d%.4f").mkString("[", ", ", "]")}""" }.mkString("{", ", ", "}")

  /** Every digit the double has; non-finite values become -1. */
  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "-1" else v.toString
}
