package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{GraftColumnShim, SparkSession}

/** Benchmark driver: one process, one driver thread, `local[nproc]`.
  *
  * Set-up is session start plus three rounds of input generation,
  * set-up artefacts and one untimed warm-up pass; `setup_s` counts the
  * session and the median round. The first round's pass is verified and
  * becomes the reference every later pass must reproduce. Two more
  * untimed passes let the JIT settle. Timed passes follow until
  * `--seconds` have elapsed (at least two; four with `--trace 1`, where
  * untraced and traced passes alternate in pairs). Per-layer numbers
  * come from the traced passes, and the tracing overhead is their median
  * wall minus the untraced median. Results go to `<work>/result.json`.
  *
  * Usage: layerbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR [--scale F] */
object Main {

  private def arg(args: Array[String], k: String, default: Option[String] = None): String = {
    val i = args.indexOf(s"--$k")
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else default.getOrElse(throw new IllegalArgumentException(s"missing --$k"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val r = p / 100 * (s.size - 1)
      val lo = r.floor.toInt; val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val wl = Workload.byName(arg(args, "workload"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val scale = arg(args, "scale", Some("1.0")).toDouble
    val work = Paths.get(arg(args, "work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's default of 100 generated classes is fewer than one pass
      // of `iterate` compiles, so every pass recompiled ~340 classes and
      // the JIT compiled them again: passes never warmed up
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        GraftColumnShim.rocksDBStateStoreProviderClass)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // one micro-batch per push: no extra batch for a moved watermark
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val tracer = new Tracer(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    def phase(name: String): Unit =
      System.err.println(f"[layerbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $name")
    phase("session started")

    val checks = new Checks
    val outDir = s"$work/out"
    Files.createDirectories(Paths.get(outDir))
    val ctx = new Ctx(spark, tracer, s"$work/data", outDir, seed, scale, checks)
    val passLog = mutable.ArrayBuffer.empty[String]
    val jobCounts = mutable.ArrayBuffer.empty[Int]

    def runPass(p: Int, traced: Boolean): (Map[String, Out], Double, Double, Map[String, Double]) = {
      ctx.steps.clear()
      tracer.beginPass(p, traced)
      val jobs0 = tracer.jobsSucceeded.get()
      val cpu0 = Host.processCpuNs
      val s = tracer.nowMs
      val out = wl.pass(ctx)
      val e = tracer.nowMs
      val cpuS = (Host.processCpuNs - cpu0) / 1e9
      val layers = tracer.endPass(s, e, cores)
      jobCounts += tracer.jobsSucceeded.get() - jobs0
      (out, (e - s) / 1000.0, cpuS, layers)
    }

    // ---- set-up: three rounds of inputs, artefacts and a warm-up pass
    // (the median round counts); the first round's pass is verified
    var reference = Map.empty[String, Out]
    val setupRounds = (1 to 3).map { r =>
      val s0 = System.nanoTime()
      wl.generate(ctx)
      wl.prepare(ctx)
      ctx.keep = r == 1
      val (out, _, _, _) = runPass(-r, traced = false)
      ctx.keep = false
      val roundS = (System.nanoTime() - s0) / 1e9
      if (r == 1) {
        reference = out
        reference.foreach { case (k, o) => checks(s"$k.ran")(!o.exact.startsWith("threw")) }
        wl.verify(ctx)
        ctx.raw.clear()
        phase("warm-up pass verified")
      } else {
        out.foreach { case (k, o) => checks(s"$k.matches_reference")(o.matches(reference(k))) }
        phase("warm-up pass done")
      }
      roundS
    }
    val setupS = sessionS + median(setupRounds)
    // two more untimed passes: the JIT is still compiling the pass's
    // driver code after three
    for (w <- 4 to 5) {
      val (out, _, _, _) = runPass(-w, traced = false)
      out.foreach { case (k, o) => checks(s"$k.matches_reference")(o.matches(reference(k))) }
    }
    phase("warmed up")

    // ---- timed passes
    val baseline = Host.storage(spark)
    val walls = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val stepRecs = mutable.ArrayBuffer.empty[Vector[Double]]
    val layerRecs = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    // traced runs order their passes untraced, traced, traced, untraced
    // (and repeat), so warm-up drift does not fall on one side
    while (p < (if (trace) 4 else 2) || System.nanoTime() < tEnd) {
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      val noise0 = Host.noise()
      val jit0 = Host.jitMs
      val cls0 = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
      val (out, wall, cpuS, layers) = runPass(p, traced)
      val noise = Host.noise().minus(noise0)
      val jitMs = Host.jitMs - jit0
      val cls = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount - cls0
      walls += ((traced, wall))
      out.foreach { case (k, o) => checks(s"$k.matches_reference")(o.matches(reference(k))) }
      // a pass served from a memo would lose a call's jobs (five or more);
      // the engine itself sometimes runs one more or one fewer
      checks("engine.jobs_constant")(math.abs(jobCounts.last - jobCounts.head) <= 1)
      checks("storage.released")(Host.awaitStorage(spark, baseline))
      val liveMb = HeapWatch.liveMb()
      if (!traced) { cpus += cpuS; stepRecs += ctx.steps.toVector }
      else layerRecs += layers + ("engine.heap_live_mb" -> liveMb)
      val flagged = noise.stealMs > 0.05 * wall * 1000 * cores ||
        noise.foreignMs > 0.25 * wall * 1000 * noise.hostCores
      passLog += f"""{"pass":$p,"traced":$traced,"wall_s":$wall%.4f,"cpu_s":$cpuS%.4f,""" +
        f""""jit_ms":$jitMs,"classes":$cls,"heap_live_mb":$liveMb%.1f,"jobs":${jobCounts.last},""" +
        f""""steal_ms":${noise.stealMs}%.0f,"foreign_cpu_ms":${noise.foreignMs}%.0f,"flagged":$flagged}"""
      phase(passLog.last)
      p += 1
    }

    val untraced = walls.filter(!_._1).map(_._2).toSeq
    val jobS = median(untraced)
    // every pass makes the same calls (or pushes the same micro-batches)
    // in the same order: each position's latency is its median over the
    // untraced passes, and the percentiles are taken over positions, so
    // one slow pass cannot move them and they never fall between two
    // different calls' samples
    checks("steps.same_shape")(stepRecs.map(_.size).distinct.size == 1)
    val slotMs = stepRecs.toSeq.transpose.map(median)
    val e2e = Seq(
      "setup_s" -> setupS,
      "job_s" -> jobS,
      "rows_per_s" -> ctx.rows / jobS,
      "cpu_s" -> median(cpus.toSeq),
      "batch_ms.p50" -> percentile(slotMs, 50),
      "batch_ms.p90" -> percentile(slotMs, 90))
    val layerMetrics: Seq[(String, Double)] =
      if (layerRecs.isEmpty) Nil
      else layerRecs.head.keys.toSeq.sorted.map(k => k -> median(layerRecs.map(_(k)).toSeq)) :+
        ("trace.overhead_ms" -> (median(walls.filter(_._1).map(_._2).toSeq) - jobS) * 1000)

    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ",", "}")
    val json =
      s"""{"workload":"${wl.name}","seed":$seed,"attempted":${checks.attempted},""" +
        s""""failed":${checks.failed},"failures":${checks.failures.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""rows_per_pass":${ctx.rows},"batches_per_pass":${slotMs.size},""" +
        s""""setup_rounds_s":${setupRounds.mkString("[", ",", "]")},"e2e":${obj(e2e)},""" +
        s""""layers":${obj(layerMetrics)},"passes":${passLog.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$work/result.json"), json)
    if (trace) Files.writeString(Paths.get(s"$work/trace.json"), tracer.traceJson())
    spark.stop()
    phase("stopped")
  }
}

/** Old-generation occupancy after a full collection: the heap a pass
  * leaves live. */
object HeapWatch {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def liveMb(): Double = {
    // the first collection lets the ContextCleaner drop the pass's
    // unreachable broadcasts and blocks; the second frees them
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

final case class Noise(stealMs: Double, foreignMs: Double, hostCores: Int) {
  def minus(o: Noise): Noise = Noise(stealMs - o.stealMs, foreignMs - o.foreignMs, hostCores)
}

/** Host counters: process CPU, the host's steal and foreign CPU from
  * /proc/stat, and Spark storage occupancy. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime
  /** Cumulative JIT compiler time, ms (a pass that still compiles much
    * is not yet warm). */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Cumulative host steal and host CPU not spent by this process, ms. */
  def noise(): Noise =
    try {
      val lines = Files.readAllLines(Paths.get("/proc/stat")).asScala
      val f = lines.head.trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f(0) + f(1) + f(2) + f(5) + f(6) // user nice system irq softirq
      val steal = if (f.length > 7) f(7) else 0L
      val self = Files.readString(Paths.get("/proc/self/stat")).split("\\) ")(1).split(" ")
      val selfTicks = self(11).toLong + self(12).toLong // utime stime
      Noise(steal * 10.0, (busy - selfTicks) * 10.0, lines.count(_.matches("cpu\\d+ .*")))
    } catch { case _: Throwable => Noise(0, 0, 1) }

  final case class Storage(rdds: Set[Int], memUsed: Long)

  def storage(spark: SparkSession): Storage = {
    val sc = spark.sparkContext
    Storage(sc.getRDDStorageInfo.filter(_.isCached).map(_.id).toSet ++
      sc.getPersistentRDDs.keysIterator.toSet,
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum)
  }

  /** Wait (collecting garbage, so the ContextCleaner can reap released
    * frames) until no block beyond the pre-pass baseline is held. */
  def awaitStorage(spark: SparkSession, base: Storage): Boolean = {
    val deadline = System.nanoTime() + 10000000000L
    def ok = { val s = storage(spark); (s.rdds -- base.rdds).isEmpty && s.memUsed <= base.memUsed }
    var done = ok
    while (!done && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(50); done = ok
    }
    done
  }
}
