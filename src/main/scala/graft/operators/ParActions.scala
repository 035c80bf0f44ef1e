package graft.operators

/** Run INDEPENDENT driver action chains concurrently (optimization
  * guide §2.6): Spark's scheduler happily runs several jobs at once
  * inside one application — actions are only sequential because the
  * driver calls them sequentially. Used where two data-independent
  * chains (e.g. s7's coarse k-means training and its PQ sample
  * training — disjoint collect sequences over the same input frame)
  * would otherwise serialize on the driver: the background chain's
  * jobs back-fill executor capacity the foreground chain leaves idle
  * between its own jobs. FIFO scheduling (the default) gives exactly
  * the back-fill behaviour wanted here.
  *
  * This moves WHEN jobs are submitted, never what they compute:
  * results, plans and shuffle shapes are untouched, so oracle hashes
  * cannot move. Callers block on both results before returning — no
  * work escapes the call.
  *
  * The pool is unbounded but callers only ever park one background
  * chain at a time (2 jobs in flight is enough to fill scheduling
  * gaps, per §2.6); threads are daemons so a dying driver never hangs
  * on them.
  *
  * Thread-local contract: pool threads are built WITHOUT inheritable
  * thread-locals, and a cached pool reuses them across unrelated calls,
  * so a background thunk runs with no active SparkSession and no
  * SparkContext local properties (job group, job description, scheduler
  * pool) — not the caller's, and not those of whichever caller happened
  * to spawn the thread. A thunk must therefore work only on what it
  * captures (DataFrames and their `sparkSession`): `SparkSession.active`
  * there resolves to the default session, and the caller's
  * `cancelJobGroup` does not reach the background chain's jobs. Spark's
  * own per-action settings (the SQL execution id, the action's active
  * session) are set and restored around each action, so they leave a
  * reused thread as clean as a fresh one. */
private[graft] object ParActions {
  private lazy val pool = scala.concurrent.ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(null, r, s"graft-par-action-${n.getAndIncrement()}",
            0L, false) // inheritThreadLocals = false: see the contract above
          t.setDaemon(true)
          t
        }
      }))

  /** Evaluate `a` on the pool while `b` runs on the calling thread;
    * return both. If `b` throws, the foreground error propagates —
    * after waiting out `a` (its jobs are real either way; abandoning
    * them mid-flight would leak whatever persist/checkpoint state the
    * chain manages internally). */
  def both[A, B](a: => A)(b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val fa = Future(a)(pool)
    val rb =
      try b
      catch {
        case t: Throwable =>
          try Await.ready(fa, Duration.Inf)
          catch { case _: Throwable => () }
          throw t
      }
    (Await.result(fa, Duration.Inf), rb)
  }
}
