package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** State shared by a workload and the harness for one run. */
final class Ctx(val spark: SparkSession, val in: String, val out: String,
    val seconds: Double, val rec: Recorder, val ev: SparkEvents,
    val params: java.util.Properties, val plantFault: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Latencies of the workload's user-facing operations, ms. */
  val latencies = ArrayBuffer.empty[Double]
  /** Throughput: rows of work and the seconds they took. */
  var work = 0.0
  var workSeconds = 0.0
  /** Process CPU seconds of each round of the fixed (closed-loop) work. */
  val cpuRounds = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]
  /** The workload's own end-to-end metric names: name → (value, unit). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Progress reports of each finished streaming query, by query id. */
  val progress = mutable.Map.empty[String, Seq[Progress]]
  /** Per-layer metrics that only the workload can compute. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Output checks for the checker: (name, operations the output covers). */
  val checks = ArrayBuffer.empty[(String, Int)]
  /** Epoch-ms interval of the first round of fixed work: counters that
    * must repeat exactly across runs are taken inside it.
    */
  var window: (Double, Double) = (0.0, 0.0)

  def p(key: String): String = Option(params.getProperty(key))
    .getOrElse(throw new IllegalArgumentException(s"missing input parameter $key"))
  def pi(key: String): Int = p(key).toInt
  def pd(key: String): Double = p(key).toDouble

  def dir(name: String): String = {
    val d = new File(out, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Run one operation: time it, count it, record a failure instead of
    * dying so the rest of the run still measures and checks.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  def cpuNow: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time one round of fixed work, recording its process CPU seconds; the
    * first round sets the counter window.
    */
  def round[T](body: => T): T = {
    val c0 = cpuNow
    val t0 = rec.nowMs
    try body
    finally {
      cpuRounds += cpuNow - c0
      if (window == ((0.0, 0.0))) window = (t0, rec.nowMs)
    }
  }
}

trait Workload {
  /** Build the state the timed region starts from (tables, queues),
    * into fresh directories named by `attempt`. Runs several times; the
    * last one is measured.
    */
  def prepare(ctx: Ctx, attempt: Int): Unit
  /** Run every code path of the timed region once, on throwaway state,
    * so that class loading, code generation and JIT happen before timing.
    */
  def warmup(ctx: Ctx): Unit
  /** The timed region: runs for about `ctx.seconds`. */
  def measure(ctx: Ctx): Unit
  /** After timing: write outputs for the checker and layer counters. */
  def finish(ctx: Ctx): Unit
}

object Main {
  val PrepareAttempts = 3

  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: graftbench.Main <workload> <input dir> <output dir> <seconds> <trace 0|1> [plant-fault]")
    val Array(name, in, out, secs, trace) = args.take(5)
    val plantFault = args.length > 5 && args(5) == "plant-fault"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val params = new java.util.Properties()
    val r = Files.newBufferedReader(Paths.get(in, "params.properties"), StandardCharsets.UTF_8)
    try params.load(r) finally r.close()
    val workload: Workload = name match {
      case "ingest_append" => IngestAppend
      case "ingest_merge" => IngestMerge
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val traced = trace == "1"
    val rec = new Recorder(traced)
    val ev = new SparkEvents
    val spark = Session.start(out)
    if (traced) ev.register(spark)
    val ctx = new Ctx(spark, in, out, secs.toDouble, rec, ev, params, plantFault)
    val sessionS = (rec.nowMs - jvmStartMs) / 1e3
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // set-up = session start + warm-up + the median of several prepares
    val first = timed(workload.prepare(ctx, 1))
    val warmS = timed(workload.warmup(ctx))
    ctx.latencies.clear(); ctx.attempted = 0; ctx.failed = 0; ctx.errors.clear()
    val setups = first +: (2 to PrepareAttempts).map(i => timed(workload.prepare(ctx, i)))
    val t0 = rec.nowMs
    workload.measure(ctx)
    val measuredS = (rec.nowMs - t0) / 1e3
    val liveMb = Memory.liveMb
    workload.finish(ctx)
    spark.stop() // drains the listener bus: every event is in before counting
    val layers = if (traced) Layers.compute(ctx, name) else Map.empty[String, Double]
    if (traced) writeSpans(ctx, new File(out, "spans.jsonl"))
    val setupS = sessionS + warmS + Intervals.quantile(setups, 0.5)
    writeResult(ctx, new File(out, "result.json"), setupS, Seq(sessionS, warmS) ++ setups,
      measuredS, liveMb, layers)
  }

  private def writeSpans(ctx: Ctx, f: File): Unit = {
    val w = Files.newBufferedWriter(f.toPath, StandardCharsets.UTF_8)
    try Layers.allSpans(ctx).foreach { s =>
      w.write(s"""{"id":${s.id},"layer":"${s.layer}","name":${Json.str(s.name)},""" +
        s""""start":${s.start},"end":${s.end},"parent":${s.parent},"req":${Json.str(s.req)}}""")
      w.newLine()
    } finally w.close()
  }

  private def writeResult(ctx: Ctx, f: File, setupS: Double, setups: Seq[Double],
      measuredS: Double, liveMb: Double, layers: Map[String, Double]): Unit = {
    val lat = ctx.latencies.toSeq
    val cpuS = Intervals.quantile(ctx.cpuRounds.toSeq, 0.5)
    val e2e = Seq(
      "setup_s" -> setupS,
      "throughput_per_s" -> (if (ctx.workSeconds > 0) ctx.work / ctx.workSeconds else 0.0),
      "latency_ms_p50" -> Intervals.quantile(lat, 0.5),
      "latency_ms_p90" -> Intervals.quantile(lat, 0.9),
      "cpu_s" -> cpuS,
      "live_mb" -> liveMb)
    val errorRatio = if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted
    val named = ctx.named.toSeq ++ Seq(
      "setup_s" -> (setupS, "s"), "cpu_s" -> (cpuS, "s"), "live_mb" -> (liveMb, "MB"),
      "peak_rss_mb" -> (Memory.peakRssMb, "MB"), "error_ratio" -> (errorRatio, "ratio"))
    val sb = new StringBuilder("{\n")
    sb ++= s"""  "e2e": ${Json.obj(e2e)},\n"""
    sb ++= s"""  "named": {${named.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", ")}},\n"""
    sb ++= s"""  "layers": ${Json.obj(layers.toSeq.sortBy(_._1))},\n"""
    sb ++= s"""  "setup_attempts_s": [${setups.map(Json.num).mkString(", ")}],\n"""
    sb ++= s"""  "measured_s": ${Json.num(measuredS)},\n"""
    sb ++= s"""  "latency_samples": ${lat.size},\n"""
    sb ++= s"""  "attempted": ${ctx.attempted},\n  "failed": ${ctx.failed},\n"""
    sb ++= s"""  "errors": [${ctx.errors.map(Json.str).mkString(", ")}],\n"""
    sb ++= s"""  "checks": [${ctx.checks.map { case (n, k) =>
      s"{\"name\": ${Json.str(n)}, \"ops\": $k}" }.mkString(", ")}]\n}\n"""
    Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Memory of the JVM the workload runs in. */
object Memory {
  /** Memory the program still holds: heap reachable after a full
    * collection, plus non-heap in use (class metadata, generated code), MB.
    */
  def liveMb: Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set of this JVM (Linux VmHWM), MB. */
  def peakRssMb: Double = {
    val status = new File("/proc/self/status")
    if (!status.exists) Runtime.getRuntime.totalMemory / 1048576.0
    else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    }
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
}

/** The Spark session every workload runs in: graft's own tuned defaults
  * at local[N], N = min(4, cores), with every temporary path inside the
  * run directory.
  */
object Session {
  def start(out: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val local = new File(out, "spark-local")
    local.mkdirs()
    val warehouse = new File(out, "warehouse").getAbsolutePath
    val spark = graft.GraftSession.tuned(
        SparkSession.builder().master(s"local[$cores]").appName("graftbench"), cores)
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.catalog.graft.warehouse", s"$warehouse/graft-catalog")
      .config("spark.sql.streaming.checkpointLocation", new File(out, "checkpoints").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
