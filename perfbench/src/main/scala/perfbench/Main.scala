package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** One workload run in one JVM, driven from this single client thread.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <k> --work <dir> --out <file> [--commit <id>]`. Writes the run
  * record as JSON to `--out`; `run.py` builds the classpath, launches
  * this and prints the result line.
  *
  * Phases: session start; `SetupReps` repetitions of set-up (inputs,
  * then models or index, each in a fresh directory); the workload's warm
  * passes, checked but not measured; then passes until `--seconds` have
  * elapsed. `setup_s` is the session start plus the median set-up
  * repetition plus the warm passes.
  * A traced run alternates untraced and traced passes so it can state
  * its own tracing overhead.
  */
object Main {

  val SetupReps = 3

  private val workloads: Map[String, Workload] =
    Map("tab_etl" -> TabEtl, "curate_chain" -> CurateChain)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: Exception => "" }

  private def cpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Heap in use once explicit GCs stop freeing memory. Spark's
    * ContextCleaner drops broadcasts, shuffles and cached blocks only
    * after a GC has collected their handles, so one GC read 60-90% high
    * on some runs and not on others (local[4], 3 GB heap); repeat until
    * two readings agree.
    */
  private def settledHeapMb(): Double = {
    def used: Double = {
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used
    var cur = used
    var rounds = 0
    while (math.abs(last - cur) > 1.0 && rounds < 10) { last = cur; cur = used; rounds += 1 }
    cur
  }

  private def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val cores = need("cores").toInt
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out"))
    Files.createDirectories(work)

    val load0 = loadavg
    val host0 = graft.HostMeters.snap()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (System.nanoTime() - t0) / 1e9

    val tracer = if (traced) Some(new Tracer(spark, name)) else None
    val ctx = new Ctx(spark, work, seed, tracer)
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer[String]()
    def tally(o: Outcome): Unit = {
      attempted += 1
      o.failure.foreach { f => failed += 1; if (failures.length < 20) failures += f }
    }
    def runPass(st: w.S): Outcome =
      try w.pass(ctx, st)
      catch {
        case e: Exception =>
          Outcome(Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
      }

    // set-up: inputs and models or index, several times (the last
    // repetition's state is kept), then the warm passes
    val setupRuns = ArrayBuffer[Double]()
    var state: Option[w.S] = None
    (0 until SetupReps).foreach { r =>
      state.foreach(w.release)
      if (r > 0) org.apache.commons.io.FileUtils.deleteDirectory(work.resolve(s"inputs-${r - 1}").toFile)
      val s0 = System.nanoTime()
      ctx.tracing = traced
      state = Some(w.setup(ctx, work.resolve(s"inputs-$r")))
      ctx.tracing = false
      setupRuns += (System.nanoTime() - s0) / 1e9
      progress(f"setup $r: ${setupRuns.last}%.2f s")
    }
    val r0 = System.nanoTime()
    val st = w.reference(ctx, state.get)
    val referenceS = (System.nanoTime() - r0) / 1e9
    val warmRuns = (0 until w.warmPasses).map { _ =>
      val w0 = System.nanoTime()
      val warm = runPass(st)
      val warmS = (System.nanoTime() - w0) / 1e9
      tally(warm)
      progress(f"warm pass: $warmS%.2f s ${warm.failure.getOrElse("ok").take(300)}")
      warmS
    }

    // measured passes
    final case class PassRec(traced: Boolean, wall: Double, cpu: Double, outcome: Outcome,
        spanIds: Range)
    val passes = ArrayBuffer[PassRec]()
    val m0 = System.nanoTime()
    var i = 0
    while (passes.isEmpty || (System.nanoTime() - m0) / 1e9 < seconds ||
        (traced && !passes.exists(_.traced))) {
      ctx.pass = i
      ctx.tracing = traced && i % 2 == 1
      val firstSpan = tracer.map(_.spans.length).getOrElse(0)
      val c0 = cpuNs
      val p0 = System.nanoTime()
      val o = ctx.span("pass")(runPass(st))
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = (cpuNs - c0) / 1e9
      ctx.release()
      tally(o)
      progress(f"pass $i${if (ctx.tracing) " (traced)" else ""}: $wall%.2f s " +
        o.failure.getOrElse("ok").take(300))
      passes += PassRec(ctx.tracing, wall, cpu, o,
        firstSpan until tracer.map(_.spans.length).getOrElse(0))
      ctx.tracing = false
      i += 1
    }
    val measuredS = (System.nanoTime() - m0) / 1e9

    w.release(st)
    val heapMb = settledHeapMb()
    val host1 = graft.HostMeters.snap()
    val load1 = loadavg

    val plain = passes.filterNot(_.traced)
    def fig(ps: Seq[PassRec], k: String): Double = median(ps.flatMap(_.outcome.figures.get(k)))
    val setupS = startS + median(setupRuns.toSeq) + warmRuns.sum

    val endToEnd = Map[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (median(plain.map(_.wall).toSeq), "s"),
      "cpu_s" -> (median(plain.map(_.cpu).toSeq), "s"),
      "retained_heap_mb" -> (heapMb, "MB"),
      "bytes_written_per_input_byte" -> (fig(plain.toSeq, "bytes_written_per_input_byte"), "ratio"),
      "fail_frac" -> (failed.toDouble / math.max(1, attempted), "ratio"))

    val perLayer = tracer.map { t =>
      t.close()
      Layers.metrics(t, passes.filter(_.traced).map(p => (p.spanIds, p.outcome.figures)).toSeq,
        tracedWall = passes.filter(_.traced).map(_.wall).toSeq,
        plainWall = plain.map(_.wall).toSeq, startS = startS)
    }.getOrElse(Map.empty)

    tracer.foreach(t => Files.write(work.resolve("spans.json"), t.dumpJson.getBytes(UTF_8)))
    val hd = graft.HostMeters.delta(host0, host1)
    val record = Map[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "params" -> w.params,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> Map(
        "setup_runs_s" -> setupRuns.toSeq, "graftsession_start_s" -> startS,
        "warm_pass_s" -> warmRuns, "reference_s" -> referenceS,
        "pass_s" -> plain.map(_.wall).toSeq, "cpu_s" -> plain.map(_.cpu).toSeq,
        "traced_pass_s" -> passes.filter(_.traced).map(_.wall).toSeq,
        "measured_s" -> measuredS),
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
        "loadavg_before" -> load0, "loadavg_after" -> load1,
        "steal_core_s" -> hd.stealCoreSec, "steal_frac" -> hd.stealFrac(
          Runtime.getRuntime.availableProcessors),
        "gc_s" -> hd.gcSec, "process_cpu_s" -> hd.processCpuSec, "wall_s" -> hd.wallSec,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark" -> spark.version, "commit" -> opt.getOrElse("commit", "unknown")))
    Files.write(out, (Json.value(record) + "\n").getBytes(UTF_8))
    spark.stop()
  }
}
