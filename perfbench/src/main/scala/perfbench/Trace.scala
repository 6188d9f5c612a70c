package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: (name, start, end, parent, op id). */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Long, opId: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one op id: jobs launched on the op's thread
  * while it ran, their wall time, and their tasks' metrics. */
final class SparkCost {
  val jobs = new AtomicInteger
  val jobNs = new AtomicLong
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  val taskNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val resultBytes = new AtomicLong
}

/** Spans kept in memory and written when the run ends. With tracing off
  * nothing is recorded and no listener is registered, so the untraced run
  * pays for neither; the difference between the two runs is the tracing
  * overhead.
  *
  * Spark jobs are tied to the op that launched them through a local
  * property set on the calling thread before each call
  * ([[Trace.OpProperty]]); the listener folds every job, stage and task
  * carrying that property into the op's [[SparkCost]]. */
final class Trace(val on: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val nextId = new AtomicLong
  private val costs = new ConcurrentHashMap[Long, SparkCost]
  private val stageOp = new ConcurrentHashMap[Int, Long]
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]
  /** Per-workload totals over every job, traced op or not. */
  val total = new SparkCost

  def newOpId(): Long = nextId.incrementAndGet()

  /** Times `body` as span `name`; with tracing on, records the span and
    * tags Spark jobs started by this thread with the span's op id. */
  def span[A](sc: SparkContext, name: String, parent: Long = 0L)(body: => A): (A, Span) = {
    val id = if (on) newOpId() else 0L
    if (on) sc.setLocalProperty(Trace.OpProperty, id.toString)
    val t0 = System.nanoTime()
    val a = try body finally if (on) sc.setLocalProperty(Trace.OpProperty, null)
    val s = Span(name, t0, System.nanoTime(), parent, id)
    if (on) spans.add(s)
    (a, s)
  }

  def all: Seq[Span] = spans.asScala.toSeq
  def cost(opId: Long): Option[SparkCost] = Option(costs.get(opId))

  def listener: SparkListener = new SparkListener {
    private def opOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
        .map(_.toLong)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      total.jobs.incrementAndGet()
      total.stages.addAndGet(e.stageInfos.size)
      opOf(e.properties).foreach { op =>
        val c = costs.computeIfAbsent(op, _ => new SparkCost)
        c.jobs.incrementAndGet()
        c.stages.addAndGet(e.stageInfos.size)
        e.stageIds.foreach(stageOp.put(_, op))
        jobStart.put(e.jobId, (op, e.time))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        costs.get(op).jobNs.addAndGet((e.time - t0) * 1000000L)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val targets = total +: Option(stageOp.get(e.stageId)).flatMap(op =>
        Option(costs.get(op))).toSeq
      targets.foreach { c =>
        c.tasks.incrementAndGet()
        if (m != null) {
          c.taskNs.addAndGet(m.executorRunTime * 1000000L)
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
          c.resultBytes.addAndGet(m.resultSize)
        }
      }
    }
  }

  /** Spans as JSON lines, one per span. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"op":${s.opId}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Trace {
  final val OpProperty = "perfbench.op"

  /** Blocks until the listener bus has delivered every event posted so
    * far, so per-op Spark costs are complete before they are read. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Order statistics over a sample of latencies. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p99.9/p99/p90 that has at least ten samples beyond
    * it, with its name; the median when no percentile qualifies. */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq(("p99.9", 0.999), ("p99", 0.99), ("p90", 0.9))
      .find { case (_, q) => xs.length * (1 - q) >= 10 }
      .map { case (n, q) => (n, quantile(xs, q)) }
      .getOrElse(("p50", median(xs)))
}

/** Metric sink: name → (value, unit), in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    m(name) = (value, unit)
  def toJson: String = m.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    s""""$k":{"value":$num,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}
