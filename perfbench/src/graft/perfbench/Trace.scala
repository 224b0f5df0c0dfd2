package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One recorded span: a call from the benchmark into an engine layer. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, request: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory until the run ends. When tracing is off, `span`
  * only runs its body, so the untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var request = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, request)
      }
    }

  /** Summed duration of the spans named `name`. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Duration of each span named `name`, in recording order. */
  def each(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds).toSeq

  /** Self time: each span minus the time its direct children cover. */
  def selfTimes: Map[String, Double] = {
    val childTime = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.groupMapReduce(_.name)(s => s.seconds - childTime.getOrElse(s.id, 0.0))(_ + _)
  }

  /** Share of [t0, t1] covered by spans whose name starts with `prefix`
    * (union of intervals, so nested spans are not counted twice). */
  def coverage(prefix: String, t0: Long, t1: Long): Double = {
    val iv = spans.filter(_.name.startsWith(prefix))
      .map(s => (math.max(s.startNs, t0), math.min(s.endNs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = t0
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    covered.toDouble / math.max(1L, t1 - t0)
  }
}

/** Engine counters summed over every task, job and stage since the last
  * reset, from a listener the benchmark attaches outside the timed region. */
final class Counters extends SparkListener {
  @volatile var jobs, stages, tasks = 0L
  @volatile var cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
  /** executorRunTime of every task, by stage, for the skew figure. */
  val runTimes = scala.collection.concurrent.TrieMap.empty[Int, ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      runTimes.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long])
        .synchronized(runTimes(e.stageId) += m.executorRunTime)
    }
  }

  /** Nanoseconds spent in [[snapshot]]: the tracing overhead. */
  var readNs = 0L

  def snapshot(sc: SparkContext): Snap = {
    val t0 = System.nanoTime()
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val s = Snap(jobs, stages, tasks, cpuNs / 1e9, gcMs / 1e3, inputBytes, shuffleRead,
      shuffleWrite, spill, runTimes.map { case (k, v) => k -> v.synchronized(v.toVector) }.toMap)
    readNs += System.nanoTime() - t0
    s
  }
}

/** A point-in-time copy of [[Counters]]; `b - a` is the cost between. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, cpuS: Double, gcS: Double,
    inputBytes: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    runTimes: Map[Int, Vector[Long]]) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuS - o.cpuS, gcS - o.gcS, inputBytes - o.inputBytes, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill,
    runTimes.filter { case (k, _) => !o.runTimes.contains(k) })

  /** Max over median task time in the stage with the most task time. */
  def taskSkew: Double =
    if (runTimes.isEmpty) 1.0
    else {
      val heavy = runTimes.values.maxBy(_.sum).sorted
      heavy.last.toDouble / math.max(1L, heavy(heavy.size / 2))
    }

  def metrics(prefix: String): Seq[(String, Double, String)] = Seq(
    (s"$prefix.jobs", jobs.toDouble, "count"), (s"$prefix.stages", stages.toDouble, "count"),
    (s"$prefix.tasks", tasks.toDouble, "count"), (s"$prefix.executor_cpu_s", cpuS, "s"),
    (s"$prefix.gc_s", gcS, "s"), (s"$prefix.input_bytes", inputBytes.toDouble, "bytes"),
    (s"$prefix.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
    (s"$prefix.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
    (s"$prefix.spill_bytes", spill.toDouble, "bytes"))
}

object Stats {
  /** NaN when every sampled call failed, so the run still reports. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt; val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p90/p75/p50 with at least ten samples beyond it. */
  def tailQuantile(n: Int): Double =
    Seq(0.9, 0.75, 0.5).find(q => n * (1 - q) >= 10).getOrElse(0.5)
}
