package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/**
 * Scheduler counters per operation. Each Spark job is attributed to the
 * operation named by the `perfbench.op` local property of the thread that
 * started it, or, for streaming, to the micro-batch (`epoch-N`). Events
 * reach the listener asynchronously; [[settle]] waits until they stop.
 */
final class ExecListener extends SparkListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var jobMs = 0.0; var taskRunMs = 0.0; var taskCpuMs = 0.0; var gcMs = 0.0
    var shuffleWrite = 0.0; var shuffleRead = 0.0; var spill = 0.0
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    /** Max over stages with 2+ tasks of (max task time / median task time). */
    def skew: Double = {
      val r = stageTaskMs.values.filter(_.size >= 2).map { ts =>
        val m = Stats.median(ts.toSeq)
        if (m <= 0) 1.0 else ts.max / m
      }
      if (r.isEmpty) 1.0 else r.max
    }
  }

  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, (String, Long)]()
  private val byOp = new ConcurrentHashMap[String, Counters]()
  private val events = new AtomicInteger(0)

  private def counters(op: String) = byOp.computeIfAbsent(op, _ => new Counters)

  private def opOf(props: java.util.Properties): String =
    if (props == null) "other"
    else Option(props.getProperty(ExecListener.OpKey))
      .orElse(Option(props.getProperty("streaming.sql.batchId")).map(b => s"epoch-$b"))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val op = opOf(e.properties)
    jobOp.put(e.jobId, (op, e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
    val c = counters(op)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobOp.remove(e.jobId)).foreach { case (op, t0) =>
      val c = counters(op)
      c.synchronized { c.jobMs += (e.time - t0) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val c = counters(stageOp.getOrDefault(e.stageInfo.stageId, "other"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val c = counters(stageOp.getOrDefault(e.stageId, "other"))
    if (m != null) c.synchronized {
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime.toDouble
    }
  }

  /** Wait until no event has arrived for 300 ms (at most 10 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1
    while (events.get != last && System.nanoTime() < deadline) {
      last = events.get
      Thread.sleep(300)
    }
  }

  def get(op: String): Option[Counters] = Option(byOp.get(op))
}

object ExecListener {
  val OpKey = "perfbench.op"

  /** Run `f` with its Spark jobs attributed to operation `op`. */
  def as[T](spark: SparkSession, op: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, prev)
  }
}

/** A recorded interval: layer name, operation id, parent span, nanoTime
  * bounds and any counters read for it. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = Stats.ms(endNs - startNs)
}

/** Spans kept in memory until the run ends, then written out with each
  * layer's self time (its spans' time minus their child spans' time). */
final class Tracer {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer]

  def span[T](name: String, op: String)(f: => T): T = spanWith[T](name, op)(f)._1

  def spanWith[T](name: String, op: String,
                  attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double])
                 (f: => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val parent = Option(current.get).map(_.intValue).getOrElse(0)
    current.set(id)
    val t0 = System.nanoTime()
    try {
      val v = f
      val s = Span(id, parent, name, op, t0, System.nanoTime(), attrs(v))
      spans.add(s)
      (v, s)
    } finally {
      if (parent == 0) current.remove() else current.set(parent)
    }
  }

  def add(s: Span): Unit = spans.add(s)
  def nextId(): Int = ids.incrementAndGet()
  def all: Vector[Span] = spans.asScala.toVector.sortBy(_.startNs)

  /** Self time per span name, summed over all spans, in ms. */
  def selfTimes: Map[String, Double] = {
    val all = this.all
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum
    }
  }

  def write(path: String, extra: String): Unit = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${Json.str(s.op)}",""" +
        s""""start_ms":${Json.num(Stats.ms(s.startNs - t0))},"end_ms":${Json.num(Stats.ms(s.endNs - t0))},"attrs":$attrs}"""
    }
    val self = selfTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    val body = s"""{"self_ms":$self,"summary":$extra,"spans":[\n${lines.mkString(",\n")}\n]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

/** Catalyst phases, plan size and scan counters of an executed DataFrame. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Phases(analysisMs: Double, optimizationMs: Double, planningMs: Double)
  final case class Scans(files: Double, bytes: Double, rows: Double)

  def phases(df: DataFrame): Phases = {
    val p = df.queryExecution.tracker.phases
    def d(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    Phases(d("analysis"), d("optimization"), d("planning"))
  }

  def nodes(df: DataFrame): Int = collect(df.queryExecution.executedPlan) { case p: SparkPlan => p }.size

  def scans(df: DataFrame): Scans = {
    val ss = collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    Scans(ss.map(m(_, "numFiles")).sum, ss.map(m(_, "filesSize")).sum, ss.map(m(_, "numOutputRows")).sum)
  }
}

/**
 * The in-process twin of one operation, split by layer: each step is a
 * span, and the DataFrame it ends with is planned and collected under its
 * own spans so Catalyst, execution and scan counters land per layer. Run
 * it inside `ExecListener.as` so eager jobs of the earlier steps count too.
 */
final class Layered(tracer: Tracer) {
  /** Plan and collect `df` for operation `op`, which started at `t0`
    * (nanoTime); returns the rows and the sample. */
  def run(op: String, t0: Long, df: DataFrame): (Array[org.apache.spark.sql.Row], LayerSample) = {
    tracer.span("plans.plan", op)(df.queryExecution.executedPlan)
    val rows = tracer.span("exec.collect", op)(df.collect())
    (rows, LayerSample(op, Stats.ms(System.nanoTime() - t0), rows.length,
      PlanStats.phases(df), PlanStats.nodes(df), PlanStats.scans(df)))
  }
}

/** One in-process operation as the layers saw it. */
final case class LayerSample(op: String, totalMs: Double, resultRows: Int,
                             phases: PlanStats.Phases, nodes: Int, scans: PlanStats.Scans)
