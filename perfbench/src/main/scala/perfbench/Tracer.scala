package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.collection.immutable.ListMap

/** Spans around the benchmark's calls into each engine layer, plus
  * Spark's own listener events for the `core` layer. Everything stays
  * in memory until the run ends. Times are ms since the tracer started;
  * listener events carry wall-clock ms and are shifted onto the same
  * origin.
  *
  * Only a traced run registers the listeners. In it, passes alternate
  * between timed layer by layer and plain, so the medians of the two
  * sides give the cost of the timers and split calls themselves.
  */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private def now: Double = (System.nanoTime() - nano0) / 1e6
  private def fromWall(ms: Long): Double = (ms - wall0).toDouble

  private val spans = ArrayBuffer.empty[Span]
  private val opSpans = scala.collection.mutable.LinkedHashMap.empty[Int, Span]
  private val opGcMs = scala.collection.mutable.Map.empty[Int, Double]
  private val jobs = scala.collection.mutable.Map.empty[Int, Job]
  private val stagesDone = ArrayBuffer.empty[Int]
  private val tasks = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Task]]
  private val qes = ArrayBuffer.empty[Qe]
  @volatile private var tracedOp = -1
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  private val OpGroup = "op-(\\d+)".r

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .collect { case OpGroup(n) => n.toInt }.getOrElse(-1)
        jobs(e.jobId) = Job(op, fromWall(e.time), Double.NaN, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        jobs.get(e.jobId).foreach(_.end = fromWall(e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
        stagesDone += e.stageInfo.stageId
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val m = e.taskMetrics
        if (m != null) tasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += Task(
          e.taskInfo.duration.toDouble, m.executorRunTime.toDouble,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases.values.toSeq
        if (phases.nonEmpty) lock.synchronized {
          qes += Qe(fromWall(phases.map(_.startTimeMs).min),
            phases.map(p => (fromWall(p.startTimeMs), fromWall(p.endTimeMs))))
        }
      }
    })
  }
  private object lock

  /** Run op `i` (all ops are recorded; only a traced op records spans). */
  def op[T](i: Int, traceThis: Boolean)(body: => T): T = {
    if (!enabled) return body
    val gc0 = gcMs()
    val s = now
    tracedOp = if (traceThis) i else -1
    try body
    finally {
      tracedOp = -1
      val sp = Span(-1, "op", "op", s, now, -1, i)
      lock.synchronized { opSpans(i) = sp; opGcMs(i) = gcMs() - gc0; if (traceThis) spans += sp }
    }
  }

  /** True inside a traced op: workloads then make split calls and
    * take their own layer samples.
    */
  def active: Boolean = tracedOp >= 0

  /** Time a call into `layer`; a no-op outside a traced op. `name` is
    * the metric prefix, e.g. "storage.write_ohlc".
    */
  def span[T](name: String)(body: => T): T = {
    val op = tracedOp
    if (op < 0) return body
    val id = lock.synchronized { nextId += 1; nextId }
    val parent = stack.get().headOption.getOrElse(-1)
    stack.set(id :: stack.get())
    val s = now
    try body
    finally {
      stack.set(stack.get().tail)
      lock.synchronized { spans += Span(id, name, name.takeWhile(_ != '.'), s, now, parent, op) }
    }
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Listener events arrive asynchronously; wait until every started
    * job has ended and events have stopped arriving.
    */
  private def drain(): Unit = {
    var last = -1
    var tries = 0
    while (tries < 50 && {
      val (n, open) = lock.synchronized((jobs.size + stagesDone.size + qes.size,
        jobs.values.exists(_.end.isNaN)))
      val moving = n != last
      last = n
      open || moving
    }) { Thread.sleep(100); tries += 1 }
  }

  /** Per-layer metrics, and for each traced op its wall time and the
    * remainder no span, job or planning phase covers. `workloadLayer`
    * holds what the workload measured itself (probes, checks).
    */
  def layerMetrics(workloadLayer: Map[String, Double], floorMs: Double, tracedP50s: Double,
                   plainP50s: Double, cpus: Int): (Map[String, Double], Seq[(Int, Double, Double)]) = {
    drain()
    lock.synchronized {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val ops = opSpans.values.toSeq
      val jobsByOp = jobs.values.groupBy(_.op)
      val done = stagesDone.toSet
      def opStages(i: Int): Seq[Int] =
        jobsByOp.getOrElse(i, Nil).flatMap(_.stages).filter(done).toSeq.distinct
      def qesIn(sp: Span): Seq[Qe] = qes.filter(q => q.start >= sp.start && q.start < sp.end).toSeq
      def perOp(f: Span => Double): Double = Stats.mean(ops.map(f))

      out("core.jobs_per_op") = perOp(o => jobsByOp.getOrElse(o.op, Nil).size)
      out("core.stages_per_op") = perOp(o => opStages(o.op).size)
      out("core.tasks_per_op") = perOp(o => opStages(o.op).map(s => tasks.get(s).fold(0)(_.size)).sum)
      out("core.sql_execs_per_op") = perOp(o => qesIn(o).size)
      out("core.plan_ms_per_op") = perOp(o => qesIn(o).flatMap(_.phases).map { case (a, b) => b - a }.sum)
      out("core.task_busy_ratio") = perOp { o =>
        opStages(o.op).flatMap(s => tasks.getOrElse(s, Nil)).map(_.runMs).sum /
          math.max(1e-9, (o.end - o.start) * cpus)
      }
      out("core.shuffle_bytes_per_op") = perOp(o =>
        opStages(o.op).flatMap(s => tasks.getOrElse(s, Nil)).map(_.shuffleWrite.toDouble).sum)
      out("core.spill_bytes") = ops.map(o =>
        opStages(o.op).flatMap(s => tasks.getOrElse(s, Nil)).map(_.spill.toDouble).sum).sum
      out("core.task_skew") = Stats.median(ops.flatMap { o =>
        val stageTasks = opStages(o.op).map(s => tasks.getOrElse(s, ArrayBuffer.empty[Task]))
          .filter(_.size >= 2)
        if (stageTasks.isEmpty) None
        else {
          val longest = stageTasks.maxBy(_.map(_.durMs).max)
          val med = Stats.median(longest.map(_.durMs).toSeq)
          Some(longest.map(_.durMs).max / math.max(1.0, med))
        }
      })
      out("core.gc_ms_per_op") = Stats.mean(opGcMs.values.toSeq)
      out("core.floor_ms") = floorMs

      // layer self time over the traced ops: a span's duration minus
      // what its child spans and Spark's jobs and planning cover
      val traced = spans.filter(_.layer == "op").toSeq
      val layerSpans = spans.filter(_.layer != "op").groupBy(_.op)
      val children = spans.filter(_.layer != "op").groupBy(_.parent)
      val selfByLayer = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val accounting = traced.map { o =>
        val core = jobsByOp.getOrElse(o.op, Nil).filterNot(_.end.isNaN).map(j => (j.start, j.end)).toSeq ++
          qesIn(o).flatMap(_.phases)
        val mine = layerSpans.getOrElse(o.op, Nil).toSeq
        mine.foreach { sp =>
          val kids = children.getOrElse(sp.id, Nil).map(c => (c.start, c.end)).toSeq
          selfByLayer(sp.layer) += (sp.end - sp.start) - Stats.covered(kids ++ core, sp.start, sp.end)
        }
        selfByLayer("core") += Stats.covered(core, o.start, o.end)
        val top = mine.filter(_.parent < 0).map(s => (s.start, s.end))
        (o.op, o.end - o.start, (o.end - o.start) - Stats.covered(top ++ core, o.start, o.end))
      }
      val nTraced = math.max(1, traced.size)
      Seq("core", "ingest", "storage", "catalog", "ops", "llm", "queries").foreach { l =>
        out(s"$l.self_ms_per_op") = selfByLayer(l) / nTraced
      }
      out("trace.unaccounted_ms_per_op") = accounting.map(_._3).sum / nTraced
      out("trace.overhead_ratio") = if (plainP50s > 0) tracedP50s / plainP50s - 1.0 else 0.0

      // each named call: median wall time per call
      spans.filter(_.layer != "op").groupBy(_.name).foreach { case (n, ss) =>
        out(s"${n}_ms") = Stats.median(ss.map(s => s.end - s.start).toSeq)
      }
      // jobs launched while a query was being built, before its action
      val builds = spans.filter(_.name == "queries.build").toSeq
      if (builds.nonEmpty) out("queries.eager_jobs_per_query") = Stats.mean(builds.map { b =>
        jobs.values.count(j => j.start >= b.start && j.start < b.end).toDouble
      })
      out ++= workloadLayer
      (out.toMap, accounting)
    }
  }

  /** The spans as JSON lines: name, start, end, parent, op id. */
  def writeSpans(path: String): Unit = lock.synchronized {
    val lines = spans.map { s =>
      Json.render(ListMap("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op))
    } ++ jobs.toSeq.sortBy(_._1).map { case (id, j) =>
      Json.render(ListMap("id" -> s"job-$id", "name" -> "core.job", "layer" -> "core",
        "start_ms" -> j.start, "end_ms" -> j.end, "parent" -> None, "op" -> j.op))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, layer: String, start: Double,
                        end: Double, parent: Int, op: Int)
  private final case class Job(op: Int, start: Double, var end: Double, stages: Seq[Int])
  private final case class Task(durMs: Double, runMs: Double, shuffleWrite: Long, spill: Long)
  /** A query execution: first phase start, and each planning phase. */
  private final case class Qe(start: Double, phases: Seq[(Double, Double)])
}
