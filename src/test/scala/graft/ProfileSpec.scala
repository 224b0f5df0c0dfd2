package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Profile's executed-plan capture and per-operator cost table, and the
  * line elision every plan dump shares.
  */
class ProfileSpec extends AnyFunSuite {
  import TestSpark._

  // Trailing slash: same data, distinct memo key (as in PlanSpec); the
  // tag clear makes the pair frame cold even if PlanSpec ran first, so
  // the eager checkpoint pipeline actually executes.
  private val dir = sf + "/"
  private val name = "qn03_jaccard_pairs"
  private def noopWrite(): Unit =
    SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()

  test("capture records the eager executions; the write's top row count is the query's") {
    operators.Dedup.clearMemo(spark, "tokenset")
    val (execs, _) = Profile.capture(spark)(noopWrite())
    assert(execs.size > 1, execs.map(_.funcName))
    val names = execs.map(e => Profile.planOperators(e.plan).map(_._2.nodeName))
    assert(names.exists(_.exists(_.contains("Join"))), names)
    val write = execs.last.plan
    val top = Profile.planOperators(write).iterator.flatMap(o => Profile.rowsOut(o._2)).next()
    val table = Profile.costTable(write)
    assert(top == SparkEntry.queries(name)(spark, dir).count(), table)
    assert(table.linesIterator.next().trim.startsWith("operator"), table)
    assert(table.contains(s" $top "), table)
  }

  test("capture holds every execution as soon as it returns: the drain replaces any sleep") {
    operators.Dedup.clearMemo(spark, "tokenset")
    // Hold the shared listener queue until the body has returned, so the
    // query's execution-end events are still queued when capture reads.
    val bodyDone = new java.util.concurrent.CountDownLatch(1)
    val stall = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionEnd if bodyDone.getCount > 0 =>
          bodyDone.await(60, java.util.concurrent.TimeUnit.SECONDS)
          Thread.sleep(200)
        case _ => ()
      }
    }
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val witness = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.incrementAndGet(): Unit
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(stall)
    spark.listenerManager.register(witness)
    try {
      val (execs, _) = Profile.capture(spark) { noopWrite(); bodyDone.countDown() }
      GraftSqlBridge.drainListeners(spark.sparkContext)
      assert(execs.size > 1)
      assert(execs.size == seen.get, execs.map(_.funcName))
      assert(execs.last.funcName == "overwrite", execs.map(_.funcName))
    } finally {
      bodyDone.countDown()
      spark.listenerManager.unregister(witness)
      spark.sparkContext.removeSparkListener(stall)
    }
  }

  test("plan-line elision keeps 500 chars whole and cuts longer lines to both ends") {
    val keep = "k" * 500
    assert(Plans.elide(keep) == keep)
    val long = "a" * 240 + "m" * 21 + "z" * 240
    assert(Plans.elide(long) == "a" * 240 + " …[21 chars elided]… " + "z" * 240)
  }
}
