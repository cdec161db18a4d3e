package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** State sizing is the registry's: every registered streaming query runs
  * its state operators at [[StreamQueries.StatePartitions]] whatever the
  * session's batch setting, and the session gets its own setting back
  * afterwards, also when queries overlap on one session.
  */
class StatePartitionsSpec extends AnyFunSuite {
  private val Key = "spark.sql.shuffle.partitions"

  test("overlapping sizing scopes on one session restore the value from before the first") {
    val s = TestSpark.spark.newSession()
    s.conf.set(Key, "32")
    val aIn, bIn, aOut = new CountDownLatch(1)
    def await(l: CountDownLatch): Unit = assert(l.await(30, TimeUnit.SECONDS))
    // A enters, then B, then A leaves while B is still inside
    val a = new Thread(() => StreamQueries.withStatePartitions(s, 8) {
      aIn.countDown(); await(bIn)
    })
    @volatile var inB = ""
    val b = new Thread(() => { await(aIn); StreamQueries.withStatePartitions(s, 8) {
      bIn.countDown(); await(aOut)
      inB = s.conf.get(Key)
    } })
    a.start(); b.start()
    a.join(); aOut.countDown(); b.join()
    assert(inB == "8", "a scope that ended reset one still open")
    assert(s.conf.get(Key) == "32")
  }

  test("registered queries run their state at StatePartitions and restore the session's setting") {
    val s = TestSpark.spark.newSession()
    s.conf.set(Key, "3")
    val parts = new ConcurrentLinkedQueue[Int]()
    val ended = new CountDownLatch(2)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => parts.add(o.numShufflePartitions.toInt))
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.countDown()
    }
    s.streams.addListener(listener)
    try {
      for (name <- Seq("stream_kmeans_assign", "stream_interval_count")) {
        assert(StreamQueries.queries(name)(s, TestSpark.sf).count() > 0, name)
        assert(s.conf.get(Key) == "3", name)
      }
      // progress events reach the listener before their query's end event
      assert(ended.await(60, TimeUnit.SECONDS))
    } finally s.streams.removeListener(listener)
    assert(!parts.isEmpty)
    assert(parts.asScala.forall(_ == StreamQueries.StatePartitions), parts.asScala.mkString(","))
  }
}
