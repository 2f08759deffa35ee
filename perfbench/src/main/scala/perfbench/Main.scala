package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import scala.collection.immutable.ListMap

/** A check run after the timed loop. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Everything a workload may use: the session, its private work
  * directory, the seed and the tracer.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val tracer: Tracer) {
  val rng = new java.util.Random(seed)
  /** Workload-specific end-to-end figures, printed with their units. */
  val figures = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Layer measurements the workload takes itself (probes, checks);
    * the median of each is reported.
    */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def dir(name: String): String = { val d = s"$work/$name"; new File(d).mkdirs(); d }
}

/** A workload: inputs made from the seed in `setup`, then `op` is
  * called in a closed loop by one client until the time is up, then
  * `checks` run untimed. `passLength` > 1 makes the loop end only on a
  * pass boundary, so every run measures whole passes over the op mix.
  */
trait Workload {
  def passLength: Int = 1
  /** Make the inputs from the seed, build the initial state and warm
    * up; all of it counts in `setup_s`.
    */
  def setup(ctx: Ctx): Unit
  /** Run op `i` of the loop; returns its kind, under which its latency
    * is also reported on its own.
    */
  def op(ctx: Ctx, i: Int): String
  /** Probes between ops, untimed; only in traced runs. */
  def probe(ctx: Ctx, i: Int): Unit = ()
  def checks(ctx: Ctx): Seq[Check]
}

object Main {
  private val OpTimeoutS = 120.0
  /** Of the JVM's time budget, what the ops leave for the checks and
    * the report, and what the checks leave for the report.
    */
  private val ChecksReserveS = 30.0
  private val ReportReserveS = 10.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val out = args("out")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // seconds left until the JVM's budget, less `reserveS`
    def leftS(reserveS: Double): Double =
      args("budget-s").toDouble - reserveS - (System.currentTimeMillis() - jvmStartMs) / 1e3
    val workload: Workload = name match {
      case "lake_ingest" => new LakeIngest
      case "corpus_sql" => new CorpusSql(args("sf"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val dataDir = args.getOrElse("sf", work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", graft.Bench.autoShufflePartitions(dataDir, cpus))
      .config("spark.sql.files.maxPartitionBytes", graft.Bench.autoSplitBytes(dataDir))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, work, seed, tracer)

    // CPU time of the JVM: unlike wall time it does not grow when the host
    // deschedules this VM's cores. An op's CPU time leaves out the JIT
    // compiler threads, which in the first timed pass still spend more CPU
    // than the op itself, and by an amount that varies from run to run.
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // ---- set-up: from process start to the first timed op ----
    // (one set-up per run: a repeat would cost more than the timed
    // window, and the cold first one is what a user pays)
    System.err.println(f"[perfbench] session ready at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f s")
    workload.setup(ctx)
    // set-up is CPU time, the JVM's since it started plus the input
    // generators' outside it; the wall time is reported beside it
    val preSetup = args.get("pre-setup").fold(Array(0.0, 0.0))(_.split(',').map(_.toDouble))
    val setupCpuS = os.getProcessCpuTime / 1e9 + preSetup(0)
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1e3 + preSetup(1)
    val floorMs = floor(spark)
    interOp()

    // ---- timed closed loop ----
    val lat = ArrayBuffer.empty[Double]
    val tracedLat = ArrayBuffer.empty[Double]
    val untracedLat = ArrayBuffer.empty[Double]
    val parts = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val cpuParts = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val jitParts = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var opTimeS = 0.0
    var attempted = 0
    var failed = 0
    val heapAfterGc = ArrayBuffer.empty[Double]
    // set when an op or the checks outlive their watchdog: their thread
    // may still be changing the workload's state, so nothing more runs
    var abandoned: Option[String] = None
    val loopStart = System.nanoTime()
    var i = 0
    def timeUp = (System.nanoTime() - loopStart) / 1e9 >= seconds
    // a traced run times layers on even passes and runs odd passes
    // plain, so it always runs two passes at least
    def more = abandoned.isEmpty &&
      (!timeUp || i % workload.passLength != 0 || (traced && i < 2 * workload.passLength))
    while (more) {
      val traceThis = traced && (i / workload.passLength) % 2 == 0
      attempted += 1
      val c = os.getProcessCpuTime
      val j = jitCpuNs()
      val s = System.nanoTime()
      val timeoutS = math.max(0.0, math.min(OpTimeoutS, leftS(ChecksReserveS)))
      val res = tracer.op(i, traceThis)(runWithTimeout(spark, s"op-$i", timeoutS)(workload.op(ctx, i)))
      val dt = (System.nanoTime() - s) / 1e9
      val dj = (jitCpuNs() - j) / 1e9
      val dc = (os.getProcessCpuTime - c) / 1e9 - dj
      res match {
        case Success(kind) =>
          lat += dt; opTimeS += dt
          (if (traceThis) tracedLat else untracedLat) += dt
          parts.getOrElseUpdate(kind, ArrayBuffer.empty) += dt
          cpuParts.getOrElseUpdate(kind, ArrayBuffer.empty) += dc
          jitParts.getOrElseUpdate(kind, ArrayBuffer.empty) += dj
          if (traced) ctx.sample("core.jit_ms_per_op", dj * 1e3)
        case Failure(e) =>
          failed += 1
          if (e.isInstanceOf[java.util.concurrent.TimeoutException])
            abandoned = Some(f"op $i ran past its $timeoutS%.0f s watchdog")
      }
      if (abandoned.isEmpty) {
        heapAfterGc += interOp().toDouble
        if (traced) workload.probe(ctx, i)
      }
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9

    // ---- untimed checks: a failed check counts as a failed op ----
    val checks = abandoned match {
      case Some(why) => Seq(Check("watchdog", ok = false, s"$why; the loop stopped and the checks were skipped"))
      case None => runWithTimeout(spark, "checks", leftS(ReportReserveS))(workload.checks(ctx)) match {
        case Success(cs) => cs
        case Failure(e) =>
          if (e.isInstanceOf[java.util.concurrent.TimeoutException]) abandoned = Some("the checks ran past the deadline")
          Seq(Check("checks", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    attempted += checks.size
    failed += checks.count(!_.ok)

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (setupCpuS, "s")
    metrics("setup_wall_s") = (setupWallS, "s")
    // each op kind's median, combined by geometric mean: every kind
    // weighs the same however many ops of it a run holds, and a run's
    // op mix (write and reads, kernels and queries) does not put the
    // overall median in the gap between two kinds
    def geomeanOfMedians(byKind: Iterable[ArrayBuffer[Double]]): Double =
      if (byKind.isEmpty) 0.0
      else math.exp(Stats.mean(byKind.toSeq.map(v => math.log(Stats.median(v.toSeq) * 1e3))))
    metrics("p50_geomean_ms") = (geomeanOfMedians(parts.values), "ms")
    metrics("cpu_geomean_ms") = (geomeanOfMedians(cpuParts.values), "ms")
    metrics("ops_per_s") = (if (opTimeS > 0) lat.size / opTimeS else 0.0, "1/s")
    // the median, not the maximum: what the cleaner has reclaimed by the
    // time of one GC varies, and a steady rise moves the median as well
    metrics("live_heap_mb") = (Stats.median(heapAfterGc.toSeq) / 1048576.0, "MB")
    val (tailPct, tail) = Stats.tail(lat.toSeq)

    val figures = ctx.figures.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    val partStats = parts.map { case (k, v) =>
      val (pp, pt) = Stats.tail(v.toSeq)
      k -> ListMap("n" -> v.size, "p50_s" -> Stats.median(v.toSeq), "tail_pct" -> pp, "tail_s" -> pt,
        "cpu_p50_s" -> Stats.median(cpuParts(k).toSeq), "jit_p50_s" -> Stats.median(jitParts(k).toSeq))
    }
    val (layerMetrics, accounting) = if (traced) tracer.layerMetrics(
      ctx.samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap, floorMs,
      Stats.median(tracedLat.toSeq), Stats.median(untracedLat.toSeq), cpus)
    else (Map.empty[String, Double], Nil)
    if (traced) tracer.writeSpans(s"$out/spans.jsonl")

    val conf = spark.sparkContext.getConf.getAll.toSeq.sorted
      .filterNot(_._1.startsWith("spark.app")).filterNot(_._1.contains("driver.port"))
    val box = ListMap(
      "nproc" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "core.floor_ms" -> floorMs,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_version" -> spark.version,
      "spark_conf" -> ListMap(conf: _*))
    val result = ListMap(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "correct" -> checks.forall(_.ok),
      "attempted" -> attempted, "failed" -> failed,
      "ops" -> lat.size, "loop_s" -> loopS, "op_time_s" -> opTimeS,
      "op_tail" -> ListMap("pct" -> tailPct, "ms" -> tail * 1e3, "n" -> lat.size),
      "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*),
      "figures" -> ListMap(figures.toSeq: _*),
      "parts" -> ListMap(partStats.toSeq: _*),
      "layers" -> ListMap(layerMetrics.toSeq.sortBy(_._1): _*),
      "op_accounting" -> accounting.map { case (op, wall, rest) =>
        ListMap("op" -> op, "wall_ms" -> wall, "unaccounted_ms" -> rest) },
      "checks" -> checks.map(c => ListMap("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "box" -> box)
    Files.writeString(Paths.get(s"$out/result.json"), Json.render(result))
    // an abandoned thread may hold Spark: stopping it could block
    if (abandoned.nonEmpty) Runtime.getRuntime.halt(0)
    spark.stop()
  }

  /** Time a set-up step, reported on stderr. */
  def phase[T](name: String)(body: => T): T = {
    val s = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $name%-40s ${(System.nanoTime() - s) / 1e9}%.3f s")
  }

  /** The per-action floor: median wall time of a no-data action. */
  private def floor(spark: SparkSession): Double = {
    val xs = (0 until 7).map { _ =>
      val s = System.nanoTime(); spark.range(1).count(); (System.nanoTime() - s) / 1e6
    }
    Stats.median(xs.drop(2))
  }

  /** CPU time of the JIT compiler threads in ns, from the kernel's
    * per-thread run time (run.py keeps the JVM from stopping idle
    * compiler threads, whose time would otherwise drop out).
    */
  private def jitCpuNs(): Long = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.iterator.map { t =>
      Try {
        if (Files.readString(Paths.get(s"$t/comm")).contains("CompilerThre"))
          Files.readString(Paths.get(s"$t/schedstat")).trim.split(' ')(0).toLong
        else 0L
      }.getOrElse(0L) // a thread that ended meanwhile
    }.sum
  }

  /** Between ops, untimed: drop checkpoint blocks and collect garbage
    * (as `graft.Bench` does between queries), then return heap in use.
    */
  private def interOp(): Long = {
    // blocking, so the heap reading below does not depend on how far
    // the asynchronous unpersist got
    graft.core.Checkpoints.freeAll(blocking = true)
    // the first collection hands Spark's context cleaner the references
    // it tracks; what the cleaner then releases goes in the second
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed
  }

  /** Run `body` under a cancellable job group; a `TimeoutException`
    * failure when it runs past `timeoutS`.
    */
  private def runWithTimeout[T](spark: SparkSession, group: String, timeoutS: Double)(body: => T): Try[T] = {
    val result = new java.util.concurrent.CompletableFuture[T]()
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      try result.complete(body): Unit
      catch { case e: Throwable => result.completeExceptionally(e): Unit }
      finally spark.sparkContext.clearJobGroup()
    }, group)
    t.setDaemon(true)
    t.start()
    Try(result.get(math.max(1L, (timeoutS * 1e3).toLong), java.util.concurrent.TimeUnit.MILLISECONDS))
      .recoverWith {
        case e: java.util.concurrent.TimeoutException =>
          System.err.println(f"[perfbench] $group exceeded $timeoutS%.0f s; cancelled")
          spark.sparkContext.cancelJobGroup(group)
          Failure(e)
        case e: java.util.concurrent.ExecutionException =>
          System.err.println(s"[perfbench] $group failed: ${e.getCause}")
          Failure(e.getCause)
      }
  }
}
