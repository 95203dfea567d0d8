package graft.operators

/** Driver-side overlap of INDEPENDENT Spark actions (optimization guide
  * §2.6 "Overlap independent jobs"): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. The store
  * lifecycles here chain dozens of small actions (table writes, marker
  * probes, audit aggregates); run serially, each job's planning,
  * scheduling and commit latency is pure dead time for every executor
  * core, which is exactly the profile the heavy gate band shows
  * (120–160 jobs per query, ~40% of wall in driver gaps, task-time ≪
  * wall × cores). Overlapping independent actions lets one job's
  * driver-side phases (planning, file listing, commit) back-fill with
  * another's tasks — and at cluster scale additionally fills the
  * straggler tail of each job with the next one's tasks.
  *
  * FIFO scheduling (the default) gives earlier-submitted jobs resources
  * first and later ones the leftovers — exactly the back-fill behavior
  * wanted. Concurrency is bounded (default 8, env
  * `SPARK_GRAFT_DRIVER_PAR`; 8 measured ~6% faster than 4 on the
  * governance band — the actions being overlapped are dominated by
  * driver latency, not executor demand, so a deeper queue keeps paying
  * until jobs actually contend): the bound is about overlapping driver
  * latency with executor work, so it deliberately does NOT scale with
  * core count. Excess jobs queue in the scheduler — no thrash.
  *
  * Only for actions with NO data or ordering dependence (different
  * store tables/paths, disjoint outputs). Failures propagate: the first
  * failure is rethrown after every action has finished (no half-running
  * action is left behind to race a caller's recovery logic).
  */
object Par {

  private lazy val width: Int =
    sys.env.get("SPARK_GRAFT_DRIVER_PAR").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(8)

  /** Run the actions, overlapping up to [[width]] at a time (serial for
    * 0 or 1 actions) — [[map]] with the same failure contract. */
  def run(actions: (() => Unit)*): Unit = map(actions)(_())

  /** Map `items` through `f` concurrently (bounded by [[width]]),
    * preserving input order in the result. Serial when given 0 or 1
    * items (no pool spun up). Every item finishes before the first
    * failure is rethrown. */
  def map[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.size, width))
    try {
      val futures = items.map(a =>
        pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        }))
      var firstFailure: Option[Throwable] = None
      val out = futures.map { fut =>
        try Some(fut.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure.isEmpty) firstFailure = Some(e.getCause)
            None
        }
      }
      firstFailure.foreach(throw _)
      out.map(_.get)
    } finally pool.shutdown()
  }
}
