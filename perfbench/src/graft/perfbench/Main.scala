package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, StandardOpenOption}
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

/** Runs one workload in one local Spark JVM and prints its metrics.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --records <record dir>
  *
  * Set-up: session start, fresh inputs and untimed warm-up calls;
  * `setup_s` is the wall time from JVM start to the first timed call.
  * Then passes of timed calls run until `--seconds` have passed. With
  * `--trace 0` the end-to-end metrics are printed; with `--trace 1` every
  * other pass is traced and the per-layer metrics are printed. The last
  * line of standard output is the JSON result.
  */
object Main {
  val Cores = 4

  /** Name -> unit of every end-to-end metric (printed with `--trace 0`). */
  val endToEnd: ListMap[String, String] = ListMap(
    "setup_s" -> "s", "pass_s" -> "s", "throughput_mb_s" -> "MB/s",
    "latency_p50_s" -> "s", "latency_tail_s" -> "s", "retained_heap_mb" -> "MB")

  /** Name -> unit of every per-layer metric (printed with `--trace 1`).
    * A layer that a workload does not call reads 0.
    */
  val perLayer: ListMap[String, String] = ListMap(
    "sources.scan_s" -> "s", "sources.scan_mb_s" -> "MB/s",
    "functions.pid_self_s" -> "s", "operators.prepartition_write_self_s" -> "s",
      "streaming.add_batch_s" -> "s", "streaming.trigger_overhead_s" -> "s",
      "streaming.source_s" -> "s", "plans.planning_s" -> "s",
      "runtime.jobs" -> "count", "runtime.stages" -> "count", "runtime.tasks" -> "count",
      "runtime.task_run_s" -> "s", "runtime.task_cpu_s" -> "s", "runtime.gc_s" -> "s",
      "runtime.deser_s" -> "s", "runtime.fetch_wait_s" -> "s", "runtime.shuffle_write_mb" -> "MB",
      "runtime.output_mb" -> "MB", "runtime.tasks_failed" -> "count", "runtime.sched_gap_s" -> "s",
      "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, records: File)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w; one of ${Workloads.names.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("records")))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = try parse(argv) catch {
      case NonFatal(e) => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[$Cores]").appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val code =
      try run(spark, a, jvmStartMs, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, jvmStartMs: Long, sessionS: Double): Int = {
    val startedUtc = java.time.Instant.now().toString
    val h = new Harness(spark, a.trace)
    val wl = Workloads(a.workload, spark, a.seed)
    val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${startedUtc.replaceAll("[^0-9]", "")}" +
      s"-${ProcessHandle.current().pid()}"

    // ---- set-up: fresh inputs and untimed warm-up calls
    try wl.setup(new File(a.work, "inputs"), h)
    catch { case NonFatal(e) =>
      System.err.println(s"perfbench: set-up failed: $e")
      e.printStackTrace()
      println(Json(ListMap("correct" -> false, "attempted" -> 1, "failed" -> 1, "metrics" -> ListMap())))
      return 1
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- timed passes
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < a.seconds || (a.trace && h.passes.size < 2)) h.pass(wl.pass(h))
    val measuredS = elapsed

    // ---- output checks
    try wl.verify()
    catch { case NonFatal(e) => wl.problems += s"output check threw $e" }
    wl.close()

    val attempted = h.samples.size
    val failed = h.samples.count(!_.ok)
    val plain = h.passes.toSeq.filter(!_.traced)
    val plainCalls = h.samples.toSeq.filter(s => !s.probe && plain.exists(_.no == s.pass))
    val latencies = plainCalls.map(s => if (s.ok) s.seconds else Double.PositiveInfinity)
    val tail = Reference.tail(latencies)
    val passS = Workloads.medianOf(plain.map(_.seconds))
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "pass_s" -> passS,
      "throughput_mb_s" -> wl.passInputMb / passS,
      "latency_p50_s" -> Workloads.medianOf(latencies),
      "latency_tail_s" -> tail.fold(Workloads.medianOf(latencies))(_.value),
      "retained_heap_mb" -> Workloads.medianOf(plain.map(_.retainedMb)))

    val traced = h.tracedPasses
    val layer: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val rt = traced.map(p => h.runtimeOf(p, Cores))
        val runtime = perLayer.keys.filter(k => k.startsWith("runtime.") || k == "plans.planning_s")
          .map(k => k -> Workloads.medianOf(rt.map(_(k)))).toMap
        val overhead = Workloads.medianOf(traced.map(_.seconds)) - passS
        perLayer.keys.map(_ -> 0.0).toMap ++ runtime ++ wl.layerMetrics(h) ++
          Map("trace.overhead_s" -> overhead)
      }
    val spans = if (a.trace) h.allSpans() else Nil

    val correct = wl.problems.isEmpty
    val shown = if (a.trace) perLayer else endToEnd
    val values = if (a.trace) layer else e2e

    // ---- human-readable report (standard output, before the JSON line)
    println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"passes=${h.passes.size} calls=$attempted measured=${f"$measuredS%.2f"}s")
    shown.foreach { case (k, u) =>
      val extra = k match {
        case "latency_tail_s" => tail.fold(s"  (p50: only ${latencies.size} samples, fewer than 20)")(t =>
          f"  (p${t.percentile}%.1f of ${t.n} samples, ${t.beyond} beyond)")
        case "latency_p50_s" => s"  (${latencies.size} samples)"
        case _ => ""
      }
      println(f"  $k%-40s ${values.getOrElse(k, Double.NaN)}%14.6f $u$extra")
    }
    println(f"  ${"error_rate"}%-40s ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%14.6f " +
      s"ratio ($failed failed of $attempted calls)")
    h.samples.filter(!_.ok).map(_.error).distinct.take(5).foreach(e => println(s"  failed call: $e"))
    println(s"  checks: ${if (correct) "all passed" else s"${wl.problems.size} failed"}")
    wl.problems.take(10).foreach(p => println(s"  check failed: $p"))

    // ---- the run's record, never overwriting another
    val record = ListMap(
      "run_id" -> runId, "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "started_utc" -> startedUtc, "cores" -> Cores,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "inputs" -> wl.inputs, "input_digests" -> wl.digests,
      "pass_input_mb" -> wl.passInputMb,
      "setup" -> ListMap("session_start_s" -> sessionS, "setup_s" -> setupS),
      "measured_s" -> measuredS,
      "correct" -> correct, "checks_failed" -> wl.problems.toSeq,
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> h.samples.filter(!_.ok).map(s => ListMap("call" -> s.call, "error" -> s.error)),
      "end_to_end" -> e2e,
      "latency_tail" -> tail,
      "per_layer" -> layer,
      "layer_self_s" -> (if (a.trace) h.layerSelfSeconds(spans) else Map.empty),
      "traced_passes" -> traced.size,
      "passes" -> h.passes.toSeq,
      "samples" -> h.samples.toSeq,
      "spans" -> spans,
      "host_speed" -> Calibration.receipt(spark, Cores))
    try {
      a.records.mkdirs()
      Files.write(new File(a.records, s"$runId.json").toPath, Json(record).getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW)
    } catch { case NonFatal(e) => System.err.println(s"perfbench: record not written: $e") }

    println(Json(ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(shown.toSeq.map { case (k, u) =>
        k -> ListMap("value" -> values.getOrElse(k, Double.NaN), "unit" -> u) }: _*))))
    if (correct && failed == 0) 0 else 1
  }
}

/** Host-speed receipt in the shape of the calibration kernels the
  * program's own bench reports: `cpu_1t`, one core's scalar mix/xor loop,
  * and `spark_par`, the local Spark stack hashing a range. Both are scaled
  * down to keep set-up short, so they are reported as measured, with their
  * sizes, not in the bench's units. Diagnostic only: no metric is
  * normalised by them.
  */
object Calibration {
  val CpuSteps = 25000000L
  val SparkRows = 25000000L

  def receipt(spark: SparkSession, cores: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < CpuSteps) { h ^= i; h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33); i += 1 }
    if (h == 42L) System.err.println("")
    val cpu = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    spark.range(0L, SparkRows, 1L, cores).selectExpr("bit_xor(xxhash64(id))")
      .write.format("noop").mode("overwrite").save()
    val par = (System.nanoTime() - t1) / 1e9
    ListMap("cpu_1t_s" -> cpu, "cpu_1t_steps" -> CpuSteps,
      "spark_par_s" -> par, "spark_par_rows" -> SparkRows)
  }
}
