package graft.functions

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT job-submitting tasks from driver threads (the
  * scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because driver code calls
  * them sequentially). The ladder-style operators (q344/q350 beam
  * budgets) run B independent chains of tiny eager-checkpoint rounds;
  * sequentially each round is a near-empty job paying fixed
  * submit/schedule overhead on an idle 32-core host — concurrently
  * the chains back-fill each other and the section's wall time drops
  * to the longest chain.
  *
  * Spark job-group state is thread-local, so the caller's group /
  * description / interrupt flag are re-established INSIDE every
  * worker thread — a harness watchdog (graft.Watchdog) can still
  * cancel the whole query's jobs on timeout, exactly as in the
  * sequential form. Results return in task order (determinism is the
  * caller's: independent tasks, order-fixed merge).
  *
  * Failure: every worker's jobs also carry a per-call job tag. On the
  * first task failure (in completion order) the tag's jobs are
  * cancelled, the sibling workers are interrupted, and the call waits
  * until every sibling has returned — re-cancelling the tag meanwhile,
  * so a job a sibling submits after the first cancel dies too — before
  * rethrowing the failed task's own exception. No job or pin-creating
  * thunk of the call outlives it.
  */
object Concurrent {
  private val calls = new AtomicLong()

  def inParallel[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] = {
    if (tasks.sizeIs <= 1) return tasks.map(_())
    val sc = spark.sparkContext
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val desc = sc.getLocalProperty("spark.job.description")
    val interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    val tag = s"graft-concurrent-${calls.incrementAndGet()}"
    val pool = Executors.newFixedThreadPool(tasks.size,
      (r: Runnable) => {
        val t = new Thread(r, "graft-ladder")
        t.setDaemon(true)
        t
      })
    val done = new ExecutorCompletionService[T](pool)
    val futs = tasks.map { t =>
      done.submit(new Callable[T] {
        override def call(): T = {
          if (group != null)
            sc.setJobGroup(group,
              if (desc == null) group else desc,
              interruptOnCancel = interrupt == "true")
          sc.addJobTag(tag)
          t()
        }
      })
    }
    pool.shutdown()
    try {
      // completion order, so a late task's failure is not hidden
      // behind an earlier task that is still running
      tasks.foreach(_ => done.take().get())
      futs.map(_.get())
    } catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        futs.foreach(_.cancel(true))
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
          sc.cancelJobsWithTag(tag)
        // unwrap ExecutionException so the harness records the real
        // failure class, not the executor plumbing
        throw (e match {
          case x: ExecutionException if x.getCause != null => x.getCause
          case x => x
        })
    }
  }
}
