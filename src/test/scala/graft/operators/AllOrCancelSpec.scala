package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `SemDedup.allOrCancel`, which runs the recall sweep's beam loops:
  * when one task fails, the caller gets that failure only after the
  * other tasks' threads have ended, and no job they started is left
  * running, including one started by a thread that was between two
  * jobs when the failure came.
  */
class AllOrCancelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the first failure stops the other tasks and cancels their jobs") {
    val sc = spark.sparkContext
    val started, ended = ConcurrentHashMap.newKeySet[Int]()
    val firstJobDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            Option(p.getProperty("spark.job.tags")).exists(_.contains("graft_all_or_cancel_"))))
          started.add(e.jobId): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (started.contains(e.jobId)) { ended.add(e.jobId); firstJobDone.countDown() }
    }
    sc.addSparkListener(listener)
    val loopEnded = new AtomicBoolean(false)
    try {
      // one job, then 1 s of driver work that no interrupt stops, then a
      // job whose tasks run until killed (60 s at most)
      val loop = () => try {
        sc.parallelize(1 to 2, 2).foreach(_ => ())
        val t = System.nanoTime() + 1000000000L
        while (System.nanoTime() < t) Thread.onSpinWait()
        sc.parallelize(1 to 2, 2).foreach { _ =>
          val t = System.nanoTime() + 60000000000L
          while (!TaskContext.get().isInterrupted() && System.nanoTime() < t) Thread.sleep(20)
        }
        0
      } finally loopEnded.set(true)
      // fails while the loop is in its driver work
      val failing = () => {
        assert(firstJobDone.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("beam loop failed")
      }
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](SemDedup.allOrCancel(spark, Seq(loop, failing)))
      assert(e.getMessage == "beam loop failed")
      assert(loopEnded.get(), "returned while another task's thread still ran")
      assert(System.nanoTime() - t0 < 30000000000L)
      // job events reach the listener asynchronously
      val deadline = System.nanoTime() + 15000000000L
      while (started.size > ended.size && System.nanoTime() < deadline) Thread.sleep(50)
      assert(started.size == 2, s"tagged jobs started: $started")
      assert(ended == started, s"tagged jobs still running: ${started.size - ended.size}")
    } finally sc.removeSparkListener(listener)
  }

  test("results come back in task order") {
    val r = SemDedup.allOrCancel(spark, Seq(3, 1, 2).map(n => () => {
      Thread.sleep(n * 50L)
      spark.range(n.toLong).count()
    }))
    assert(r == Seq(3L, 1L, 2L))
  }
}
