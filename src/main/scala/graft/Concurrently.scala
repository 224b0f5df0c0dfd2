package graft

/** Run a handful of INDEPENDENT Spark jobs concurrently (guide §2.6
  * "overlap independent jobs"). Three callers:
  *  - an index rebuild stages its sides (`operators.IndexSwap`): the
  *    sides derive from already-materialized inputs and land in disjoint
  *    `.stage/<side>` dirs, and the atomic-rename commit happens strictly
  *    AFTER this returns;
  *  - the backfill ingests one month's dumps (`sources.Backfill`): each
  *    dump appends into its own `<lake>/<type>` table;
  *  - an ingest micro-batch walks its lake's and its index's bloom
  *    footers (`streaming.IngestClean`): reads on the driver, or one
  *    fan-out job each past 64 files.
  * Run sequentially each job pays full per-job latency while most cores
  * idle (a `.gz` dump or a fixture-scale side is one or a few tasks);
  * submitted from a small pool the next job's tasks back-fill the
  * current one's tail. FIFO scheduling still gives the earlier job
  * priority at scale.
  *
  * At most `min(tasks, 4)` threads: every caller has at most four
  * independent tasks (an index's sides, a month's four dump types), so
  * the bound needs no knob.
  *
  * Failure: every task is waited for BEFORE the first error (in task
  * order; later ones ride along as suppressed) rethrows, so no job
  * outlives the call — a surviving index side still writing into
  * `.stage` would race an immediate retry's recover, and a surviving
  * dump write would leave its table half-appended behind the error. */
object Concurrently {

  def run(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(tasks.size, 4))
      try {
        val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        }))
        val errors = futures.flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
        }
        errors.headOption.foreach { first =>
          errors.tail.foreach(first.addSuppressed)
          throw first
        }
      } finally { pool.shutdown() }
    }
}
