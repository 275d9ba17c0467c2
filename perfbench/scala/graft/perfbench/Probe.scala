package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Spark counters of one call: a difference of two [[Counters]] readings. */
case class Counts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, taskMs: IndexedSeq[Long]) {
  def taskP50Ms: Double = Stats.quantile(taskMs.map(_.toDouble), 0.5)
  def taskMaxMs: Double = if (taskMs.isEmpty) 0.0 else taskMs.max.toDouble
}

/** Monotonic Spark counters fed by a listener. A reading first drains the
  * listener bus, so every event of the calls that returned before it has
  * been counted.
  */
class Counters(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks, cpuNs, shuffleWrite, spill = 0L
  private val taskMs = ArrayBuffer.empty[Long]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Opaque reading: (totals, index into the task-duration log). */
  def read(): (Array[Long], Int) = {
    ListenerDrain(sc)
    synchronized {
      (Array(jobs, stages, tasks, cpuNs, shuffleWrite, spill), taskMs.length)
    }
  }

  def since(start: (Array[Long], Int)): Counts = {
    val (end, endIdx) = read()
    val d = end.zip(start._1).map { case (a, b) => a - b }
    val durations = synchronized { taskMs.slice(start._2, endIdx).toIndexedSeq }
    Counts(d(0), d(1), d(2), d(3), d(4), d(5), durations)
  }

  /** Runs `f` and returns its result with its counters. */
  def measure[T](f: => T): (T, Counts) = {
    val start = read()
    val r = f
    (r, since(start))
  }
}

/** In-memory span recorder for the traced run. When disabled, `span` is a
  * plain call: no clock reads, no listener drains.
  */
class Tracer(counters: Counters) {
  case class Span(id: Int, parent: Int, name: String, iter: Int,
      startNs: Long, endNs: Long, counts: Counts)

  @volatile var enabled = false
  var iteration = 0
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = counters.read()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val c = counters.since(start)
        stack = stack.tail
        spans += Span(id, parent, name, iteration, t0, t1, c)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var until = s.startNs
    for ((a, b) <- kids) {
      val from = math.max(a, until)
      if (b > from) { covered += b - from; until = b }
    }
    (s.endNs - s.startNs) - covered
  }

  /** A span as fields for the run's JSON result. */
  def json(s: Span): Map[String, Any] = Map("id" -> s.id, "parent" -> s.parent,
    "name" -> s.name, "iter" -> s.iter, "start_ns" -> s.startNs,
    "end_ns" -> s.endNs, "self_ns" -> selfNs(s), "jobs" -> s.counts.jobs,
    "stages" -> s.counts.stages, "tasks" -> s.counts.tasks,
    "cpu_ns" -> s.counts.cpuNs,
    "shuffle_write_bytes" -> s.counts.shuffleWriteBytes,
    "spill_bytes" -> s.counts.spillBytes)
}

object Stats {
  /** Linear-interpolation quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
