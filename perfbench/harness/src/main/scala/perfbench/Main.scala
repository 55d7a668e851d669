package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark JVM. Creates the session, runs the cold pass and prints
  * `PERFBENCH_SETUP_DONE` (the caller times launch-to-marker as set-up),
  * then runs timed passes until both `--seconds` have passed and the
  * workload's `minPasses` have run (under `--trace 1` traced passes
  * alternate with untraced ones), writes the checked outputs untimed, runs
  * the workload's cleanup, takes live heap after full GCs and writes a raw
  * JSON record to `--out`.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR --out FILE
  *   --seed N --seconds S --trace 0|1 --slots N
  */
object Main {
  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = a("work")
    val wl = Workload(a("workload"), a("input"), work, seed)

    val t0 = System.nanoTime()
    val spark = wl.session(a("slots").toInt)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder
    val c0 = System.nanoTime()
    wl.pass(spark, rec)
    val coldS = (System.nanoTime() - c0) / 1e9
    println("PERFBENCH_SETUP_DONE")
    System.out.flush()
    val jitS =
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

    val passes = ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    while (passes.size < wl.minPasses || System.nanoTime() < deadline) {
      rec.pass = passes.size + 1
      val tracer = if (trace && rec.pass % 2 == 0) Some(new Tracer(spark))
        else None
      tracer.foreach(_.start())
      val (cpu0, gc0) = (cpuSeconds, gcSeconds)
      val ms0 = System.currentTimeMillis()
      val p0 = System.nanoTime()
      wl.pass(spark, rec)
      val wall = (System.nanoTime() - p0) / 1e9
      val ms1 = System.currentTimeMillis()
      val (cpu1, gc1) = (cpuSeconds, gcSeconds)
      passes += Map("index" -> rec.pass, "wall_s" -> wall,
        "cpu_s" -> (cpu1 - cpu0), "gc_s" -> (gc1 - gc0),
        "start_ms" -> ms0, "end_ms" -> ms1,
        "trace" -> tracer.map(_.stop()))
    }

    val checked = wl.check(spark, s"$work/check")
    wl.cleanup(spark)
    // Spark's ContextCleaner frees blocks and broadcasts of collected
    // references asynchronously: collect until the heap stops shrinking
    def heapMb = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var liveHeapMb = heapMb
    var before = Double.MaxValue
    var rounds = 0
    while (before - liveHeapMb > 1.0 && rounds < 10) {
      before = liveHeapMb
      liveHeapMb = heapMb
      rounds += 1
    }

    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
      new java.io.File(a("out")), Map(
      "session_s" -> sessionS, "cold_s" -> coldS, "jit_s" -> jitS,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "passes" -> passes.toSeq,
      "spans" -> rec.spans.filter(_.pass > 0).map(s => Map(
        "pass" -> s.pass, "op" -> s.op, "kind" -> s.kind,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds)).toSeq,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "errors" -> rec.errors.toSeq,
      "check" -> checked.map { case (n, e) => Map("op" -> n, "error" -> e) },
      "live_heap_mb" -> liveHeapMb,
      "batch_op" -> wl.batchOp,
      "extra" -> wl.extra))
    spark.stop()
  }
}
