package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Engine-side cost of the jobs that ran under one span. */
final class SparkCost {
  val jobs, stages, tasks, cpuNs, schedDelayMs, gcMs, shuffleBytes, spillBytes =
    new AtomicLong()
  def add(o: SparkCost): Unit =
    Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks, cpuNs -> o.cpuNs,
      schedDelayMs -> o.schedDelayMs, gcMs -> o.gcMs,
      shuffleBytes -> o.shuffleBytes, spillBytes -> o.spillBytes)
      .foreach { case (a, b) => a.addAndGet(b.get) }
}

/** Attributes jobs, stages and task metrics to the span that was open when
  * the job was submitted. The key is the job description the tracer sets
  * (`pb:<span id>`); micro-batch jobs of a streaming query (described by
  * their run id) land under [[CostListener.Streaming]], all others under
  * [[CostListener.Untraced]]. */
final class CostListener extends SparkListener {
  import CostListener._
  val bySpan = new ConcurrentHashMap[Int, SparkCost]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
      case Some(d) if d.startsWith("pb:") => d.drop(3).toInt
      case Some(d) if d.contains("runId = ") => Streaming
      case _ => Untraced
    }

  private def cost(span: Int): SparkCost =
    bySpan.computeIfAbsent(span, _ => new SparkCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    cost(s).jobs.incrementAndGet()
    e.stageIds.foreach(id => stageSpan.put(id, s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    cost(s).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = cost(stageSpan.getOrDefault(e.stageId, Untraced))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val i = e.taskInfo
      val busy = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime
      val delay = (i.finishTime - i.launchTime) - busy - i.gettingResultTime.max(0L)
      c.schedDelayMs.addAndGet(delay.max(0L))
    }
  }
}

object CostListener {
  val Untraced = -1
  val Streaming = -2
}

/** One traced interval. Spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` just runs its body: the
  * untraced runs pay nothing but the branch. Enabled, each span sets the
  * thread's Spark job description so [[CostListener]] can attribute the
  * jobs it launches; nesting restores the parent's description. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var op = ""

  /** A traced operation: its root span and every span opened inside it.
    * Spans opened outside an operation (an untraced operation's steps in a
    * traced run) are not recorded. */
  def operation[T](name: String)(body: => T): T = {
    val prev = op
    op = name
    try span(name.takeWhile(_ != '#'))(body) finally op = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled || op.isEmpty) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setJobDescription(s"pb:$id")
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, parent, name, op, start, System.nanoTime())
        sc.setJobDescription(stack.headOption.map(s => s"pb:${s._1}").orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Per-operation layer counts, averaged over the operations that set them. */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def count(name: String, v: Double): Unit =
    if (enabled) counts.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Span duration minus the part its children cover (children of one
    * span never overlap: the harness is single-threaded per span). */
  def selfMs(s: Span): Double =
    s.ms - done.iterator.filter(_.parent == s.id).map(_.ms).sum
}

object Stats {
  /** Linear-interpolated quantile (numpy's default) of unsorted samples. */
  def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
