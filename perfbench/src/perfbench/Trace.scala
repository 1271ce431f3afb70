package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` is the operation id the
  * span belongs to (also the Spark job group of that operation);
  * `parent` is the enclosing span's id, 0 at the top. Times are
  * epoch nanoseconds. */
final case class Span(id: Int, layer: String, name: String, op: String,
                      parent: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder. Timing always happens (the workloads read their
  * end-to-end figures from it); spans are only KEPT when tracing is on.
  * Kept spans stay in memory until [[Tracer.all]] is read at exit. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val kept = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[String] { override def initialValue() = "setup" }

  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  /** The epoch-nanosecond clock every span and event time uses. */
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  /** Time `body` as a span of `layer`; returns its value and seconds. */
  def timed[T](layer: String, name: String)(body: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val start = now()
    try {
      val r = body
      val end = now()
      if (on) kept.add(Span(id, layer, name, opOf.get, parent, start, end))
      (r, (end - start) / 1e9)
    } finally stack.set(stack.get.tail)
  }

  def span[T](layer: String, name: String)(body: => T): T = timed(layer, name)(body)._1

  /** Run one operation: its spans share `op`, and (tracing on) so do
    * the Spark jobs it starts, through the job group. */
  def operation[T](op: String, layer: String, name: String)(body: => T): (T, Double) = {
    val prev = opOf.get
    opOf.set(op)
    if (on) sc.setJobGroup(op, name, interruptOnCancel = false)
    try timed(layer, name)(body)
    finally {
      opOf.set(prev)
      if (on) sc.clearJobGroup()
    }
  }

  /** A span whose interval was observed elsewhere (listener events,
    * stage callbacks). */
  def record(layer: String, name: String, op: String, parent: Int,
             start: Long, end: Long): Int = {
    val id = ids.incrementAndGet()
    if (on) kept.add(Span(id, layer, name, op, parent, start, end))
    id
  }

  def currentSpan: Int = stack.get.headOption.getOrElse(0)
  def currentOp: String = opOf.get

  def all: Seq[Span] = kept.asScala.toSeq.sortBy(_.start)

  /** Per-layer self time: each span's duration minus the union of its
    * children's intervals. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.unionLength(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}

object Stats {
  /** Nearest-rank percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Total length of a set of (start, end) intervals, overlaps once. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark runtime counters per operation kind, from a [[SparkListener]].
  * A job belongs to the operation named by its job group (set by
  * [[Tracer.operation]]) or, for a streaming micro-batch, to
  * `batch-<query run id>-<batch id>`; the kind is the id's prefix
  * (batch, query, shard, read), everything else is `other`. */
final class SparkCounters extends SparkListener {
  val Kinds = Seq("batch", "query", "shard", "read")
  private final class Acc {
    var jobs, stages, tasks = 0L
    var schedDelayMs, runMs, cpuNs = 0L
    var shuffleRead, shuffleWrite, spill, input = 0L
  }
  private val byKind = mutable.Map.empty[String, Acc]
  private val stageOp = mutable.Map.empty[Int, String]
  private val cpuNsByOp = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val jobIntervals = mutable.Map.empty[Int, (Long, Long)]

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p =>
      Option(p.getProperty("streaming.sql.batchId"))
        .map(b => s"batch-${p.getProperty("spark.jobGroup.id")}-$b")
        .orElse(Option(p.getProperty("spark.jobGroup.id")))).getOrElse("other")
  private def kindOf(op: String): String =
    Some(op.takeWhile(_ != '-')).filter(Kinds.contains).getOrElse("other")
  private def acc(op: String): Acc = byKind.getOrElseUpdate(kindOf(op), new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    acc(op).jobs += 1
    jobIntervals(e.jobId) = (e.time, Long.MaxValue)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobIntervals.get(e.jobId).foreach { case (s, _) => jobIntervals(e.jobId) = (s, e.time) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val op = opOf(e.properties)
    stageOp(e.stageInfo.stageId) = op
    acc(op).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, "other")
    val a = acc(op)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      cpuNsByOp(op) += m.executorCpuTime
      a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  /** Forget everything counted so far (the end of a warm-up). */
  def reset(): Unit = synchronized {
    Seq(byKind, stageOp, cpuNsByOp, jobIntervals).foreach(_.clear())
  }

  /** Executor CPU seconds of one operation. */
  def cpuSeconds(op: String): Double = synchronized { cpuNsByOp(op) / 1e9 }

  /** Seconds of [fromMs, toMs] during which no Spark job was running. */
  def idleSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    val busy = Stats.unionLength(jobIntervals.values.toSeq.map { case (s, e) =>
      (math.max(s, fromMs), math.min(if (e == Long.MaxValue) toMs else e, toMs))
    })
    (toMs - fromMs - busy) / 1e3
  }

  def metrics: Seq[(String, Double)] = synchronized {
    Kinds.flatMap { k =>
      val a = byKind.getOrElse(k, new Acc)
      Seq(
        s"spark.$k.jobs" -> a.jobs.toDouble,
        s"spark.$k.stages" -> a.stages.toDouble,
        s"spark.$k.tasks" -> a.tasks.toDouble,
        s"spark.$k.sched_delay_s" -> a.schedDelayMs / 1e3,
        s"spark.$k.executor_run_s" -> a.runMs / 1e3,
        s"spark.$k.executor_cpu_s" -> a.cpuNs / 1e9,
        s"spark.$k.shuffle_read_bytes" -> a.shuffleRead.toDouble,
        s"spark.$k.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        s"spark.$k.spill_bytes" -> a.spill.toDouble,
        s"spark.$k.input_bytes" -> a.input.toDouble)
    }
  }
}
