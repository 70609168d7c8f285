package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.functions.Concurrent

/** [[graft.functions.Concurrent.inParallel]]: task-order results, the
  * caller's job group inside the workers, and a failure that rethrows
  * the task's own exception only after every sibling has settled and
  * its jobs are cancelled. */
class ConcurrentSpec extends SparkSpec {

  private def sc = spark.sparkContext

  test("results come back in task order, not completion order") {
    val got = Concurrent.inParallel(spark, (0 until 4).map { i => () =>
      Thread.sleep((4 - i) * 50L) // the last task finishes first
      spark.range(i + 1).count()
    })
    assert(got == Seq(1L, 2L, 3L, 4L))
  }

  test("the failed task's own exception class is rethrown") {
    val e = intercept[IllegalStateException] {
      Concurrent.inParallel(spark, Seq(
        () => spark.range(10).count(),
        () => throw new IllegalStateException("synthetic failure")))
    }
    assert(e.getMessage == "synthetic failure")
  }

  test("the caller's job group is visible in every worker") {
    sc.setJobGroup("graft-concurrent-spec", "spec group",
      interruptOnCancel = true)
    try {
      val seen = Concurrent.inParallel(spark, (0 until 3).map { _ => () =>
        spark.range(5).count()
        sc.getLocalProperty("spark.jobGroup.id")
      })
      assert(seen == Seq.fill(3)("graft-concurrent-spec"))
      GraftTestBus.drain(sc)
      assert(sc.statusTracker.getJobIdsForGroup("graft-concurrent-spec")
        .length >= 3)
    } finally sc.clearJobGroup()
  }

  test("a failure cancels the siblings' jobs and waits for them") {
    val running = new AtomicInteger()
    val started = new java.util.concurrent.CountDownLatch(1)
    // each row sleeps inside a nondeterministic FILTER: uncancelled,
    // the job runs for minutes
    val slow = udf((x: Long) => { Thread.sleep(500); x >= 0 })
      .asNondeterministic()
    val t0 = System.nanoTime()
    sc.setJobGroup("graft-concurrent-fail", "failing call",
      interruptOnCancel = true)
    try {
      intercept[ArithmeticException] {
        Concurrent.inParallel(spark, Seq(
          () => {
            running.incrementAndGet()
            try {
              started.countDown()
              spark.range(1000).repartition(2)
                .filter(slow(col("id"))).count()
            } finally running.decrementAndGet()
          },
          () => {
            started.await()
            Thread.sleep(300) // let the sibling's job get going
            throw new ArithmeticException("synthetic failure")
          }))
      }
    } finally sc.clearJobGroup()
    // settled before the rethrow: no sibling thread is still inside
    assert(running.get() == 0)
    assert((System.nanoTime() - t0) / 1e9 < 30)
    // job-end events reach the status store through the listener bus
    eventually(timeout(10.seconds), interval(100.millis)) {
      GraftTestBus.drain(sc)
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
    }
    assert(spark.range(5).count() == 5)
  }
}
