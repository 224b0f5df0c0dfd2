package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** Single-query profiler:
  * `runMain graft.Profile <query> [sfDir] [reps] [clearTags] [k=v ...]`.
  *
  * Bench's session and rep protocol for one query, repeated, so a plan
  * change can be measured without a full bench sweep: a warmup query,
  * then `reps` noop-sink runs, one timing line. `clearTags` is a comma
  * list of pair-memo tags to clear before each rep (Bench's cold-rep
  * protocol); the special tag `IDX` clears the IndexMemo so
  * persisted-index gates measure a cold build per rep. Trailing `k=v`
  * args are session confs pinned before the warmup (e.g.
  * `spark.graft.pairJoin.allPairsMaxGroups=0` forces the prefix/band arm).
  *
  * Then the cost table: every execution the last rep triggered — the
  * eager `localCheckpoint` pipelines that a registered plan's tail hides
  * behind a LogicalRDD included — printed as its AQE-final plan, one row
  * per operator with its SQL metrics (output rows, timing metrics, spill
  * size). The table is read off the executed plan, so it follows any plan
  * change with no per-query code.
  */
object Profile {
  def main(argv: Array[String]): Unit = {
    val (confs, args) = argv.partition(_.contains("="))
    require(args.nonEmpty, "usage: Profile <query> [sfDir] [reps] [clearTags] [k=v ...]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, "reps must be >= 1")
    val clearTags = args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) }
    def run(): Double = {
      clearTags.foreach { t =>
        if (t == "IDX") operators.IndexMemo.clear(spark)
        else operators.Dedup.clearMemo(spark, t)
      }
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // Bench's rep protocol: destroy the broadcasts qn20b's batch twin
      // accumulates and drop dead localCheckpoint blocks between reps, or
      // later reps measure block-manager eviction, not the plan.
      streaming.StreamSemantic.releaseBroadcasts(spark)
      System.gc()
      dt
    }
    SparkEntry.queries("q12_agg_pricing_summary")(spark, sfDir)
      .write.mode("overwrite").format("noop").save() // warmup
    val early = (1 until reps).map(_ => run())
    val (plans, last) = capture(spark)(run())
    val times = early :+ last
    println(f"$name: ${times.map(t => f"$t%.2f").mkString(", ")} s (min ${times.min}%.2f)")
    plans.zipWithIndex.foreach { case (e, i) =>
      println(f"---- executed plan $i: ${e.funcName}, ${e.durationMs}%.0f ms ----")
      print(costTable(e.plan))
    }
    spark.stop()
  }

  /** One finished query execution: the action that ran it, its wall time
    * and its executed plan (metrics final once the action returned). */
  final case class Execution(funcName: String, durationMs: Double, plan: SparkPlan)

  /** Runs `body` and returns every query execution it triggered, in
    * completion order. The listener bus is asynchronous; draining it once
    * `body` returns makes the capture complete without guessing a wait. */
  def capture[A](spark: SparkSession)(body: => A): (Seq[Execution], A) = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Execution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized { seen += Execution(funcName, durationNs / 1e6, qe.executedPlan); () }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      GraftSqlBridge.drainListeners(spark.sparkContext)
      (seen.synchronized(seen.toList), result)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The operators of `plan` in pre-order with their tree depth: AQE's
    * final plan, query stages opened to the plans they ran, subqueries
    * under the operator that uses them. */
  def planOperators(plan: SparkPlan, depth: Int = 0): Seq[(Int, SparkPlan)] = plan match {
    case a: AdaptiveSparkPlanExec => planOperators(a.executedPlan, depth)
    case s: QueryStageExec => planOperators(s.plan, depth)
    case i: InputAdapter => planOperators(i.child, depth)
    case p => (depth, p) +: (p.children ++ p.subqueries).flatMap(planOperators(_, depth + 1))
  }

  /** An operator's rows out: `numOutputRows`, or the records a shuffle
    * exchange wrote. The counter grows each time the operator's RDD is
    * computed, so the subtree under a range-partitioned sort reports its
    * rows twice (the partitioner's sample job computes it once more);
    * the exchange above it writes each row once. */
  def rowsOut(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").orElse(p.metrics.get("shuffleRecordsWritten"))
      .map(value)

  // Size and timing metrics start below zero until a task reports.
  private def value(m: SQLMetric): Long = math.max(m.value, 0L)

  /** One line per operator: name (indented by depth), [[rowsOut]],
    * summed spill bytes, and every nonzero timing metric in ms. An empty
    * cell means the operator does not report that metric. */
  def costTable(plan: SparkPlan): String = {
    val rows = planOperators(plan).map { case (depth, p) =>
      val ms = p.metrics.toSeq.sortBy(_._1)
      val spills = ms.collect { case (k, m) if k.toLowerCase.contains("spill") => value(m) }
      val times = ms.collect {
        case (k, m) if m.metricType == "timing" && value(m) > 0 => s"$k=${value(m)}ms"
        case (k, m) if m.metricType == "nsTiming" && value(m) >= 1000000 =>
          s"$k=${value(m) / 1000000}ms"
      }
      ("  " * depth + p.nodeName,
        rowsOut(p).fold("")(_.toString),
        if (spills.isEmpty) "" else spills.sum.toString,
        times.mkString(" "))
    }
    val line = s"  %-${("operator" +: rows.map(_._1)).map(_.length).max}s  %12s  %11s  %s"
    (("operator", "rows", "spill_bytes", "time") +: rows)
      .map { case (op, n, spill, t) => line.format(op, n, spill, t).stripTrailing }
      .mkString("", "\n", "\n")
  }
}
