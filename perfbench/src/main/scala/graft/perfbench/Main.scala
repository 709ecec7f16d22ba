package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload per JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> [--trace-out <file>] [--scale full|tiny] [--corrupt <kind>]
  * }}}
  *
  * Set-up (seeded input generation; the first also starts the session)
  * runs three times and reports its median. Passes then run for
  * `--seconds`: the first is the cold pass, the others are warm passes (at
  * least two), and the best warm pass counts: for task CPU time and memory
  * end to end, for wall time in the traced run. With `--trace 1`, traced
  * passes (one span per stage, each stage materialized, then the
  * workload's traced extras) alternate with untraced ones, and the traced
  * median minus the best untraced pass is the tracing overhead. The output
  * of the last pass is checked against an independent recomputation. The
  * last stdout line is the result object.
  */
/** Executor CPU time of every finished task, summed. */
final class TaskCpu(spark: SparkSession) extends org.apache.spark.scheduler.SparkListener {
  private val nanos = new java.util.concurrent.atomic.AtomicLong
  spark.sparkContext.addSparkListener(this)
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) nanos.addAndGet(e.taskMetrics.executorCpuTime)
  /** Seconds so far, once every event posted before the call is handled. */
  def seconds: Double = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    nanos.get / 1e9
  }
}

object Main {
  val SetupReps = 3
  val MinWarmPasses = 2

  /** Per-layer metrics (traced run), with units. A workload reports 0 for
    * the layers it does not run.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "input.scan_s" -> "s", "input.scan_bytes" -> "B",
    "text.extract_s" -> "s", "text.mismatch_rows" -> "count",
    "index.encode_s" -> "s",
    "ops.categorize_s" -> "s", "ops.categorize_jobs" -> "count",
    "ops.pip_join_s" -> "s", "ops.tile_agg_s" -> "s", "ops.shuffle_bytes" -> "B",
    "run.write_s" -> "s", "run.write_bytes" -> "B",
    "input.read_polys_s" -> "s", "index.poly_cover_s" -> "s", "index.poly_cells" -> "count",
    "ops.cell_join_s" -> "s", "ops.pip_candidates" -> "count",
    "geo.refine_s" -> "s", "geo.refine_us_per_candidate" -> "us",
    "ops.pip_matches" -> "count", "ops.pip_hit_ratio" -> "ratio", "ops.pip_count_s" -> "s",
    "raster.store_s" -> "s", "raster.tiles_written" -> "count", "raster.store_bytes" -> "B",
    "raster.shuffle_bytes" -> "B", "raster.spill_bytes" -> "B",
    "raster.zarr_s" -> "s", "raster.zarr_bytes" -> "B",
    "ops.dedup_s" -> "s", "ops.dedup_pairs" -> "count",
    "ops.components_s" -> "s", "ops.components_jobs" -> "count",
    "streaming.hourly_s" -> "s", "multimodal.decode_s" -> "s",
    "core.leaked_rdds" -> "count",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "wall.pass_s" -> "s", "wall.rows_per_s" -> "rows/s",
    "trace.pass_s" -> "s", "trace.overhead_s" -> "s",
    "trace.span_cover" -> "ratio", "jvm.cold_pass_s" -> "s")

  /** `Bench.session`'s settings, except that scans and shuffles split into
    * four tasks per core: with one task per core, a core stolen by the
    * hypervisor for a moment delays the whole pass.
    */
  def session(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", (4 * cpus).toString)
    .config("spark.sql.files.minPartitionNum", (4 * cpus).toString)
    .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
    .config("spark.sql.files.openCostInBytes", (1024L * 1024).toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally f.close()
  }

  /** Peak heap in use right after a collection since the last [[reset]],
    * from the collectors' notifications, and the peak of the non-heap pools
    * (metaspace, code cache). Unlike the resident set, which follows how far
    * the collector let the heap grow, these follow what the program holds.
    */
  private object PeakMemory {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    private val heapPools = pools.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var heapPeak = 0L
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapPeak = math.max(heapPeak, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[javax.management.NotificationEmitter]
        .addNotificationListener(listener, null, null))
    def reset(): Unit = synchronized { heapPeak = 0L }
    def heapMb: Double = heapPeak / (1024d * 1024)
    def nonHeapMb: Double = pools.filter(_.getType == MemoryType.NON_HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024d * 1024)
  }

  /** One pass: wall, process CPU, task CPU and JIT compilation seconds, and
    * the peak heap in use after a collection during it, in MB.
    */
  final case class Pass(wall: Double, cpu: Double, taskCpu: Double, jit: Double, heapMb: Double)

  /** Unpersists what a pass left cached and returns how many RDDs that was. */
  private def freePersisted(spark: SparkSession): Int = {
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    left.foreach(_.unpersist(blocking = true))
    left.size
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath.toString
    val scale = if (args.getOrElse("scale", "full") == "tiny") Scale.tiny else Scale.full
    val corrupt = args.getOrElse("corrupt", "0").toInt
    val cpus = Runtime.getRuntime.availableProcessors
    val w = Workloads(workload, scale, seed, trace)

    Inputs.deleteTree(work)
    Files.createDirectories(Paths.get(work))

    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      if (spark == null) {
        spark = session(cpus, work)
        System.err.println(f"session start [$workload]: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      w.setup(spark, s"$work/in$r")
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("WARN")
    (0 until SetupReps - 1).foreach(r => Inputs.deleteTree(s"$work/in$r"))
    val in = s"$work/in${SetupReps - 1}"
    val out = s"$work/out"
    val hostBefore = (graft.Bench.hostProbe(), graft.Bench.diskProbe())
    val jiffiesBefore = cpuJiffies()

    var attempted = 0
    var failed = 0
    var leaked = 0
    val taskCpu = new TaskCpu(spark)
    /** Runs one pass; None if it failed. */
    def timed[T](body: => T): Option[(Pass, T)] = {
      Inputs.deleteTree(out)
      System.gc()
      PeakMemory.reset()
      attempted += 1
      val c0 = processCpuSeconds()
      val j0 = jitSeconds()
      val k0 = taskCpu.seconds
      val t0 = System.nanoTime()
      try {
        val r = body
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = processCpuSeconds() - c0
        Some((Pass(wall, cpu, taskCpu.seconds - k0, jitSeconds() - j0, PeakMemory.heapMb), r))
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"pass failed: $e")
          e.printStackTrace()
          None
      } finally leaked = math.max(leaked, freePersisted(spark))
    }

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val cold = timed(w.pass(spark, in, out))
    val warm = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val tracedWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layerRuns = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracer = if (trace) Some(new Tracer(spark, s"$workload-$seed")) else None
    var i = 0
    // A traced run ends on a traced pass, so the traced extras' outputs
    // are there to check.
    def enough = System.nanoTime() > deadline &&
      (if (trace) tracedWalls.size >= 2 && warm.nonEmpty && i % 2 == 1
       else warm.size >= MinWarmPasses)
    while (!enough && i < 1000) {
      tracer match {
        case Some(t) if i % 2 == 0 =>
          timed {
            val pass = t.span("pass")(w.tracedPass(spark, t, in, out))
            (pass, w.tracedExtras(spark, t, in, out))
          }.foreach { case (_, ((m, root), extras)) =>
            val stages = t.spans.filter(_.parent == root.id)
            val sum = (k: String) => stages.map(_.counts.getOrElse(k, 0d)).sum
            tracedWalls += root.seconds
            layerRuns += m ++ extras ++ Map(
              "trace.pass_s" -> root.seconds,
              "trace.span_cover" -> stages.map(_.seconds).sum / root.seconds,
              "spark.task_cpu_s" -> sum("task_cpu_s"),
              "spark.gc_s" -> sum("gc_s"))
          }
        case _ =>
          timed(w.pass(spark, in, out)).foreach { case (p, _) => warm += p }
      }
      i += 1
    }
    val passesEnd = System.nanoTime()
    if (corrupt > 0) w.corrupt(spark, in, out, corrupt)
    val problems =
      if (cold.isEmpty || warm.isEmpty) Seq("no pass completed")
      else try w.check(spark, in, out) catch {
        case NonFatal(e) => Seq(s"check failed to run: $e")
      }
    problems.foreach(p => System.err.println(s"CHECK FAILED [$workload]: $p"))
    System.err.println(f"phases [$workload]: set-up ${setups.sum}%.1f s, " +
      f"passes ${(passesEnd - deadline) / 1e9 + seconds}%.1f s, " +
      f"check ${(System.nanoTime() - passesEnd) / 1e9}%.1f s")
    tracer.foreach(_.close())
    spark.stop()
    val jiffiesAfter = cpuJiffies()
    val hostAfter = (graft.Bench.hostProbe(), graft.Bench.diskProbe())
    val stealFrac = (jiffiesAfter._1 - jiffiesBefore._1).toDouble /
      math.max(1L, jiffiesAfter._2 - jiffiesBefore._2)

    // Best of the warm passes: on a shared host, passes run in phases up to
    // 1.7x apart that last a few passes, even within one JVM, so a median
    // flips between the two speeds from run to run. Wall time also follows
    // the CPU time the hypervisor steals over the whole run, and process
    // CPU time the JIT compiler's work on each pass's generated code, so the
    // end-to-end time metric is the CPU time of the pass's Spark tasks.
    def best(f: Pass => Double): Double = if (warm.isEmpty) Double.NaN else warm.map(f).min
    val passS = best(_.wall)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setups), "s"),
        ("task_cpu_s", best(_.taskCpu), "s"),
        ("peak_mem_mb", best(_.heapMb) + PeakMemory.nonHeapMb, "MB"),
        ("out_bytes_per_row", Inputs.dirBytes(out).toDouble / w.inputRows, "B/row"))
      else {
        val layer = (k: String) => median(layerRuns.flatMap(_.get(k)).toSeq)
        val extra = Map(
          "wall.pass_s" -> passS,
          "wall.rows_per_s" -> w.inputRows / passS,
          "trace.overhead_s" -> (median(tracedWalls.toSeq) - passS),
          "jvm.cold_pass_s" -> cold.map(_._1.wall).getOrElse(Double.NaN),
          "core.leaked_rdds" -> leaked.toDouble)
        PerLayer.map { case (k, unit) =>
          val v = extra.getOrElse(k, if (layerRuns.exists(_.contains(k))) layer(k) else 0d)
          (k, v, unit)
        }
      }

    tracer.foreach { t =>
      val file = args.getOrElse("trace-out", s"$work/trace.jsonl")
      Option(Paths.get(file).toAbsolutePath.getParent).foreach(Files.createDirectories(_))
      Files.write(Paths.get(file), (t.jsonLines.mkString("\n") + "\n").getBytes(UTF_8))
      val traced = median(tracedWalls.toSeq)
      System.err.println(f"tracing overhead [$workload]: traced pass $traced%.3f s, " +
        f"untraced pass $passS%.3f s, overhead ${traced - passS}%+.3f s " +
        f"(${100 * (traced - passS) / passS}%+.1f%%); spans in $file")
    }
    val host = s"""{"host":{"workload":${Json.str(workload)},"seed":$seed,"cpus":$cpus,""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},""" +
      s""""host_probe_mops_before":${Json.num(hostBefore._1)},"host_probe_mops_after":${Json.num(hostAfter._1)},""" +
      s""""disk_probe_mbps_before":${Json.num(hostBefore._2)},"disk_probe_mbps_after":${Json.num(hostAfter._2)},""" +
      s""""cpu_steal_frac":${Json.num(stealFrac)},""" +
      s""""setup_s":[${setups.map(Json.num).mkString(",")}],""" +
      s""""cold_pass_s":${Json.num(cold.map(_._1.wall).getOrElse(Double.NaN))},""" +
      s""""warm_pass_s":[${warm.map(p => Json.num(p.wall)).mkString(",")}],""" +
      s""""warm_process_cpu_s":[${warm.map(p => Json.num(p.cpu)).mkString(",")}],""" +
      s""""warm_task_cpu_s":[${warm.map(p => Json.num(p.taskCpu)).mkString(",")}],""" +
      s""""warm_jit_s":[${warm.map(p => Json.num(p.jit)).mkString(",")}],""" +
      s""""warm_heap_mb":[${warm.map(p => Json.num(p.heapMb)).mkString(",")}],""" +
      s""""non_heap_mb":${Json.num(PeakMemory.nonHeapMb)},""" +
      s""""traced_pass_s":[${tracedWalls.map(Json.num).mkString(",")}],""" +
      s""""problems":[${problems.map(Json.str).mkString(",")}]}}"""
    println(host)
    val body = metrics.map { case (k, v, u) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString(",")
    println(s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    if (problems.nonEmpty) System.exit(1)
  }
}
