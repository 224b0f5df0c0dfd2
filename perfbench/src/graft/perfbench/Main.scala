package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** What one timed pass of a workload measured. `bulk*` is the phase that
  * moves the workload's input through the engine once; `opMs` are the
  * closed-loop calls that follow it; `spaceRatio` is bytes the engine
  * wrote over the input bytes that produced them. */
final case class Timed(bulkBytes: Double, bulkS: Double, opMs: Seq[Double],
    opWallS: Double, spaceRatio: Double)

/** The state one run shares with its workload: the session, the seed, the
  * tracer, and the recorders for metrics and checks. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val scale: Double, val faultEvery: Int, val counters: Option[Counters]) {
  var tracer = new Tracer(false)
  val layers = LinkedHashMap.empty[String, (Double, String)]
  val named = LinkedHashMap.empty[String, (Double, String)]
  /** Facts that are not numbers, such as the dispatch arm a call took. */
  val notes = LinkedHashMap.empty[String, String]
  /** Bounds of the latest timed pass, in System.nanoTime. */
  var passStartNs, passEndNs = 0L
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  var attempted, failed = 0L
  private var fixedCpuNs = -1L

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def metric(name: String, v: Double, unit: String): Unit = named(name) = (v, unit)
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** One attempted engine operation. A failed one is counted and never
    * timed. The fault hook fails every `faultEvery`-th operation before it
    * reaches the engine. */
  def op[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      if (faultEvery > 0 && attempted % faultEvery == 0)
        throw new RuntimeException(s"injected fault in $name")
      val r = tracer.span(name)(body)
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: $name failed: $e")
        None
    }
  }

  /** Closed loop with one client: call `next(i)` until at least `minOps`
    * calls ran and the run's seconds are spent, or `maxOps` ran, stopping
    * only after a whole number of `stride` calls. Process CPU is read after
    * the first `minOps` calls, so `process_cpu_s` always prices the same
    * amount of work. Returns the per-call milliseconds of the calls that
    * succeeded and the loop's wall seconds. */
  def loop(minOps: Int, maxOps: Int, deadlineNs: Long, stride: Int = 1)(next: Int => Option[Double]): (Seq[Double], Double) = {
    val ms = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < maxOps && (i < minOps || i % stride != 0 || System.nanoTime() < deadlineNs)) {
      tracer.request = i
      next(i).foreach(s => ms += s * 1e3)
      i += 1
      if (i == minOps) fixedCpuNs = Main.processCpuNs()
    }
    if (fixedCpuNs < 0) fixedCpuNs = Main.processCpuNs()
    (ms.toSeq, (System.nanoTime() - t0) / 1e9)
  }
  def fixedCpu: Long = fixedCpuNs

  /** Milliseconds to each executed plan the benchmark asked for. */
  val planMs = ArrayBuffer.empty[Double]
  private def plan(df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val executed = df.queryExecution.executedPlan
    planMs += (System.nanoTime() - t0) / 1e6
    RuleHits.observe(executed)
  }
  /** Plan, then fetch the rows: how an analyst's query runs. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = { plan(df); df.collect() }
  /** Plan, then force the rows through the `noop` sink, as `graft.Bench` does. */
  def noop(df: DataFrame): Unit = { plan(df); df.write.format("noop").mode("overwrite").save() }
}

/** Which Catalyst rules from GraftExtensions show up in executed plans. */
object RuleHits {
  var topK, intersectCount = 0L
  def observe(plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    val s = plan.toString
    if (s.contains("TopKPerGroup")) topK += 1
    if (s.contains("sorted_intersect_count") || s.contains("SortedIntersectCount")) intersectCount += 1
  }
}

trait Workload {
  /** Write the seeded inputs, `scale` times the benchmark size, under `dir`. */
  def generate(c: Ctx, dir: String, scale: Double): Unit
  /** Run the engine's paths once on small inputs of their own under `dir`. */
  def warm(c: Ctx, dir: String): Unit
  /** The timed region, over inputs from [[generate]], writing under `out`. */
  def timed(c: Ctx, dir: String, out: String, deadlineNs: Long): Timed
  /** Correctness checks, outside the timed region. */
  def check(c: Ctx, dir: String, out: String): Unit
  /** Workload-specific layer metrics from the traced pass. */
  def layers(c: Ctx, dir: String, out: String): Unit
}

object Main {
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(): Unit
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = opts("workload") match {
      case "lake" => Lake
      case "dedup" => Dedup
      case "ann" => Ann
      case w => sys.error(s"unknown workload $w")
    }
    val work = opts("dir")
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (trace) Some(new Counters) else None
    val c = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
      opts.getOrElse("scale", "1").toDouble, opts.getOrElse("fault-every", "0").toInt, counters)

    // Set-up: warm the engine once on small inputs of its own, then
    // generate the inputs three times from scratch and keep the last.
    // setup_s is the warm-up plus the median generation.
    val t0 = System.nanoTime()
    workload.warm(c, s"$work/warm")
    val warmS = (System.nanoTime() - t0) / 1e9
    rm(new File(s"$work/warm"))
    val genS = (0 until 3).map { i =>
      val d = s"$work/input$i"
      val t0 = System.nanoTime()
      workload.generate(c, d, c.scale)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < 2) rm(new File(d))
      s
    }
    val dir = s"$work/input2"
    c.metric("warmup_s", warmS, "s")
    c.metric("generate_s", Stats.median(genS), "s")
    System.gc()

    /** The timed pass: what it measured, its wall seconds, its start, and
      * the process CPU of its fixed work (the bulk phase and the first
      * `minOps` calls). */
    def pass(out: String): (Timed, Double, Long, Long) = {
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val t = workload.timed(c, dir, out, t0 + c.seconds * 1000000000L)
      c.passStartNs = t0; c.passEndNs = System.nanoTime()
      (t, (c.passEndNs - t0) / 1e9, t0, c.fixedCpu - cpu0)
    }
    val out = s"$work/out"

    // With --trace 1 the timed pass records spans, and Spark counters from
    // a listener attached here, outside the timed region.
    counters.foreach { k =>
      spark.sparkContext.addSparkListener(k)
      c.tracer = new Tracer(true)
    }
    val s0 = counters.map(_.snapshot(spark.sparkContext))
    val (plain, wall, passStart, cpuNs) = pass(out)
    // Objects the engine dropped can hold broadcasts and cached blocks that
    // Spark's cleaner releases only after a collection finds them; collect,
    // give the cleaner time, and collect again before reading the heap.
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val e2e = LinkedHashMap[String, (Double, String)](
      "setup_s" -> (warmS + Stats.median(genS), "s"),
      "bulk_mb_per_s" -> (plain.bulkBytes / 1e6 / plain.bulkS, "MB/s"),
      "op_p50_ms" -> (Stats.median(plain.opMs), "ms"),
      "op_tail_ms" -> (Stats.quantile(plain.opMs, Stats.tailQuantile(plain.opMs.size)), "ms"),
      "space_ratio" -> (plain.spaceRatio, "ratio"),
      "process_cpu_s" -> (cpuNs / 1e9, "s"),
      "heap_retained_mb" -> (heapMb, "MB"),
      "success_rate" -> (1.0 - c.failed.toDouble / math.max(1L, c.attempted), "ratio"))
    c.metric("op_samples", plain.opMs.size.toDouble, "count")
    c.metric("op_tail_quantile", Stats.tailQuantile(plain.opMs.size), "quantile")
    c.metric("ops_per_s", plain.opMs.size / plain.opWallS, "1/s")
    c.metric("timed_wall_s", wall, "s")

    for (k <- counters; before <- s0) {
      val d = k.snapshot(spark.sparkContext) - before
      d.metrics("spark").foreach { case (n, v, u) => c.layer(n, v, u) }
      c.layer("spark.jobs_per_op", d.jobs.toDouble / math.max(1, plain.opMs.size), "count")
      c.layer("spark.tasks_per_op", d.tasks.toDouble / math.max(1, plain.opMs.size), "count")
      c.layer("spark.plan_ms_p50", Stats.median(c.planMs.toSeq), "ms")
      c.layer("plans.TopKPerGroup.fired", RuleHits.topK.toDouble, "count")
      c.layer("plans.IntersectCountRule.fired", RuleHits.intersectCount.toDouble, "count")
      c.layer("trace.engine_coverage", c.tracer.coverage("", passStart, c.passEndNs), "ratio")
      c.layer("trace.spans", c.tracer.spans.size.toDouble, "count")
      // The time the timed pass spent in the benchmark's own counter reads.
      c.layer("trace.overhead_pct", 100 * k.readNs / (wall * 1e9), "%")
      workload.layers(c, dir, out)
      c.tracer.selfTimes.toSeq.sortBy(_._1).foreach { case (n, s) => c.layer(s"self.$n", s, "s") }
    }

    // A check that cannot run (its input never got written) fails the run
    // without losing the result.
    try workload.check(c, dir, out)
    catch { case e: Exception => c.check("checks_ran", ok = false, e.toString) }
    spark.stop()

    val json = new StringBuilder
    def obj(m: Iterable[(String, (Double, String))]): String = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    json ++= s"{\"attempted\":${c.attempted},\"failed\":${c.failed},"
    json ++= s"\"end_to_end\":${obj(e2e)},\"named\":${obj(c.named)},\"layers\":${obj(c.layers)},"
    json ++= "\"notes\":" + c.notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "},")
    json ++= "\"checks\":" + c.checks.map { case (n, ok, d) =>
      s"{\"name\":${Json.str(n)},\"ok\":$ok,\"detail\":${Json.str(d)}}"
    }.mkString("[", ",", "]")
    if (c.tracer.enabled)
      json ++= ",\"spans\":" + c.tracer.spans.map(s =>
        s"[${s.id},${Json.str(s.name)},${s.startNs},${s.endNs},${s.parent},${s.request}]").mkString("[", ",", "]")
    json ++= "}"
    java.nio.file.Files.write(new File(s"$work/result.json").toPath, json.toString.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }
}
