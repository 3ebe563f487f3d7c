package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed client request: `kind` groups requests for the per-kind
  * figures (query, batch, append, upsert, ...). */
final case class Op(iter: Int, kind: String, name: String, seconds: Double)

/** Context a workload runs in: the live session, the trace, and the
  * recorder for timed requests. `tag` names the current iteration in span
  * request ids: `s<k>` for warm-up k of the set-up, `t<k>` for timed
  * iteration k. */
final class Ctx(val spark: SparkSession, val trace: Trace, val tag: String,
                val iter: Int, ops: ArrayBuffer[Op]) {
  /** Times one request of the closed loop and records it. */
  def op[T](kind: String, name: String, span: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = trace.span(span, s"$tag/$name")(body)
    if (iter >= 0) ops += Op(iter, kind, name, (System.nanoTime() - t0) / 1e9)
    r
  }
}

/** A closed-loop workload with one client. */
trait Workload {
  /** Input preparation inside the set-up (the seed table, ...). */
  def prepare(spark: SparkSession): Unit
  /** Untimed iterations the set-up runs before timing. */
  def warmUps: Int = 1
  /** Timed iterations the loop runs even when they outlast the measured
    * time, so the per-request medians have samples to work with. */
  def minIterations: Int = 1
  /** True when the generated inputs hold no further iteration. */
  def exhausted: Boolean = false
  /** One iteration of the loop; its timed requests go through `ctx.op`. */
  def iteration(ctx: Ctx): Unit
  /** Untimed output check material, written after the timed loop. */
  def check(spark: SparkSession): Map[String, Any]
  /** Workload-specific figures for the result file. */
  def figures: Map[String, Any] = Map.empty
  /** Called on every query execution the session reports, traced only. */
  def onQueryExecution(stats: Map[String, Double]): Unit = ()
}

/** Benchmark JVM entry. Arguments (all required):
  * `--workload <query-mix|medallion-batch|ledger-commits> --seed <n>
  *  --seconds <s> --trace <0|1> --work <dir> --input <dir> --out <file>
  *  --size <full|tiny>`.
  * Writes one JSON result file with every raw timing; `run.py` turns it
  * into metrics and checks outputs. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Host.loadavg()

    val workload: Workload = workloadName match {
      case "query-mix" => new QueryMix(a("input"), work, seed)
      case "medallion-batch" => new Medallion(work, seed, a("size"))
      case "ledger-commits" => new Ledger(work, a("input"))
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up: session, inputs and the workload's untimed warm-up
    // iterations; it runs once per process, from JVM start to the first
    // timed request.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = new Trace(traced, spark.sparkContext)
    val metrics = new SparkMetrics(trace)
    if (traced) {
      spark.sparkContext.addSparkListener(metrics)
      spark.listenerManager.register(new PlanStats(workload.onQueryExecution))
    }
    val ops = ArrayBuffer.empty[Op]
    workload.prepare(spark)
    val prepareS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val warmS = (0 until workload.warmUps).map { k =>
      val t0 = System.nanoTime()
      workload.iteration(new Ctx(spark, trace, s"s$k", -1, ops))
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    def drain(): Unit = if (traced) org.apache.spark.ListenerBusDrain(spark.sparkContext)
    drain()
    val sparkBefore = if (traced) metrics.snapshot() else Map.empty[String, Double]
    val fsBefore = CountingFileSystem.snapshot()
    val cpu0 = Host.processCpuS()
    val jit0 = Host.jitS()
    val gc0 = Host.gcS()
    val loop0 = System.nanoTime()
    val iterS = ArrayBuffer.empty[Double]
    var it = 0
    // Closed loop: whole iterations until the measured time is used up,
    // and at least the workload's minimum.
    while (it == 0 || ((it < workload.minIterations || (System.nanoTime() - loop0) / 1e9 < seconds)
        && !workload.exhausted)) {
      val t0 = System.nanoTime()
      workload.iteration(new Ctx(spark, trace, s"t$it", it, ops))
      iterS += (System.nanoTime() - t0) / 1e9
      it += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val loopCpuS = Host.processCpuS() - cpu0
    val loopJitS = Host.jitS() - jit0
    val loopGcS = Host.gcS() - gc0
    drain()
    val sparkAfter = if (traced) metrics.snapshot() else Map.empty[String, Double]
    val fsAfter = CountingFileSystem.snapshot()

    val check = workload.check(spark)
    val result = Map(
      "workload" -> workloadName, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "warmup_s" -> warmS, "iter_s" -> iterS, "loop_s" -> loopS,
      "ops" -> ops.map(o => Map("iter" -> o.iter, "kind" -> o.kind,
        "name" -> o.name, "s" -> o.seconds)),
      "figures" -> workload.figures,
      "spark" -> sparkAfter.map { case (k, v) => k -> (v - sparkBefore.getOrElse(k, 0.0)) },
      "fs" -> fsAfter.map { case (k, v) => k -> (v - fsBefore.getOrElse(k, 0.0)) },
      "spans" -> (if (traced) trace.all.map(s => Seq(s.id, s.parent, s.name, s.req,
        s.start, s.end, s.detail)) else Nil),
      "records_written_by_span" -> (if (traced) metrics.recordsWritten else Map.empty),
      "check" -> check,
      "host" -> Map(
        "session_ready_s" -> sessionS, "prepared_s" -> prepareS,
        "nproc" -> cores, "cores_used" -> spark.sparkContext.defaultParallelism,
        "loadavg_start" -> load0, "loadavg_end" -> Host.loadavg(),
        "process_cpu_s" -> Host.processCpuS(), "loop_cpu_s" -> loopCpuS,
        "loop_jit_s" -> loopJitS, "loop_gc_s" -> loopGcS,
        "jvm_heap_max_bytes" -> Runtime.getRuntime.maxMemory))
    spark.stop()
    Files.write(Paths.get(a("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
  }
}

object Host {
  /** Every regular file under `dir`. */
  def files(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Seconds the JIT compilers have spent compiling, over all threads. */
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Seconds of garbage collection, over all collectors. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }
}
