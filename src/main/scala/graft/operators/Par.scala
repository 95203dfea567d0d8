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
  * wanted. Concurrency is bounded PROCESS-WIDE: at most [[Width]] = 8
  * actions run on Par's threads at once, however calls nest (Maintain's
  * compact overlaps tables whose compactions overlap their own leaves).
  * An item that finds every slot taken runs on its calling thread, so a
  * nested call never waits for a slot its own caller holds — no
  * deadlock. 8 measured ~6% faster than 4 on the governance band — the
  * actions being overlapped are dominated by driver latency, not
  * executor demand, so a deeper queue keeps paying until jobs actually
  * contend: the bound is about overlapping driver latency with executor
  * work, so it deliberately does NOT scale with core count. Excess jobs
  * queue in the scheduler — no thrash.
  *
  * Only for actions with NO data or ordering dependence (different
  * store tables/paths, disjoint outputs). Failures propagate: the first
  * failure is rethrown after every action has finished, and an
  * interrupted caller returns only after every action has exited (no
  * half-running action is left behind to race a caller's recovery
  * logic).
  */
object Par {

  private val Width = 8

  private val slots = new java.util.concurrent.Semaphore(Width)

  /** Run the actions, overlapping up to [[Width]] at a time (serial for
    * 0 or 1 actions) — [[map]] with the same failure contract. */
  def run(actions: (() => Unit)*): Unit = map(actions)(_())

  /** Map `items` through `f` concurrently, preserving input order in the
    * result: each item takes a free process-wide slot and runs on this
    * call's pool (threads created by the caller, so they inherit its
    * Spark local properties), or runs on the calling thread when no slot
    * is free. Serial when given 0 or 1 items (no pool spun up). Every
    * item finishes before the first failure is rethrown. A caller
    * interrupted while waiting cancels the pending items, interrupts the
    * running ones and waits for them to exit before the
    * InterruptedException is rethrown. */
  def map[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(f)
    // a cached pool hands each task to a thread at once (nothing queues),
    // so every slot is released by its wrapper, cancelled task or not
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    try {
      val futures = items.map { a =>
        val task = new java.util.concurrent.FutureTask[B](() => f(a))
        if (slots.tryAcquire()) pool.execute(() => try task.run() finally slots.release())
        else task.run()
        task
      }
      var firstFailure: Option[Throwable] = None
      val out = futures.map { fut =>
        try Some(fut.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure.isEmpty) firstFailure = Some(e.getCause)
            None
          case e: InterruptedException =>
            futures.foreach(_.cancel(true))
            pool.shutdownNow()
            while (!pool.isTerminated)
              try pool.awaitTermination(1, java.util.concurrent.TimeUnit.SECONDS)
              catch { case _: InterruptedException => }
            throw e
        }
      }
      firstFailure.foreach(throw _)
      out.map(_.get)
    } finally pool.shutdown()
  }
}
