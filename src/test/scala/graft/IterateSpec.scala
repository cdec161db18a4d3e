package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** [[Iterate]] frees what a loop no longer reads: a fixed-round loop
  * holds one round's pins however many rounds it runs, and a step that
  * throws leaves none of the loop's pins persisted.
  */
class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Result of `f`, and how many RDDs it left persisted. A poller holds
    * every persisted RDD it sees, so an RDD counts until it is
    * unpersisted, not only until the garbage collector drops it.
    */
  private def added[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val before = persisted
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val polling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() =>
      while (polling.get()) { sc.getPersistentRDDs.values.foreach(held.add); Thread.sleep(2) })
    poller.setDaemon(true)
    poller.start()
    try {
      val out = f
      (out, (persisted -- before).size)
    } finally {
      polling.set(false)
      poller.join()
      java.lang.ref.Reference.reachabilityFence(held)
    }
  }

  /** A directed path n00 → n01 → … → n`hops`, both directions. */
  private def path(hops: Int): DataFrame = {
    import spark.implicits._
    val nodes = (0 to hops).map(i => f"n$i%02d")
    val fwd = nodes.zip(nodes.tail)
    (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
  }

  test("bfs over a 30-hop path holds a constant number of pins, whatever the hop count") {
    import spark.implicits._
    for (hops <- Seq(10, 30)) {
      val (dist, pins) = added(Graph.bfsOnEdges(path(hops), hops)
        .as[(String, Long)].collect().toMap)
      assert(dist == (0 to hops).map(i => f"n$i%02d" -> i.toLong).toMap)
      // the edge list, the seed distance and the last round's distances
      assert(pins <= 3, s"$hops hops left $pins persisted RDDs")
    }
  }

  test("k-core at 8 rounds holds a constant number of pins") {
    import spark.implicits._
    // a 4-clique with a 2-node tail: the 3-core is the clique
    val und = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d",
      "c" -> "d", "d" -> "e", "e" -> "f")
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val (core, pins) = added(Graph.kcoreOnEdges(edges, 3, 8)
      .as[(String, Long)].collect().toMap)
    assert(core == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    assert(pins <= 3, s"8 rounds left $pins persisted RDDs")
  }

  test("fold keeps only the latest round's pins and still reads them") {
    val init = spark.range(0, 5).toDF("x")
    val (out, pins) = added(Iterate.fold(init, 1 to 6, every = 2) { (df, r) =>
      r.pin(df.select((col("x") + 1).as("x")))
    }.agg(sum("x")).head().getLong(0))
    assert(out == (6L to 10L).sum)
    assert(pins == 1)
  }

  test("a step that throws leaves none of the loop's pins persisted") {
    val init = spark.range(0, 5).toDF("x")
    def failingAt(k: Int)(df: DataFrame, r: Iterate.Round): DataFrame = {
      val kept = r.keep(df.select((col("x") * 2).as("x")))
      val next = r.pin(kept.select((col("x") + 1).as("x")))
      if (r.i == k) throw new IllegalStateException(s"round $k")
      next
    }
    for (k <- Seq(1, 3)) {
      val before = persisted
      intercept[IllegalStateException](Iterate.fold(init, 1 to 5)(failingAt(k)))
      intercept[IllegalStateException](Iterate.scan(init, 1 to 5)(failingAt(k)))
      intercept[IllegalStateException](
        Iterate.until(init, 5)((df, r) => Some(failingAt(k)(df, r))))
      assert(persisted == before, s"a throw at round $k left pins persisted")
    }
  }

  test("until stops at the first None, and reports rounds that never stop") {
    val init = spark.range(0, 3).toDF("x")
    val stopped = Iterate.until(init, 10) { (df, r) =>
      if (r.i == 4) None else Some(r.pin(df.select((col("x") + 1).as("x"))))
    }
    assert(stopped.map(_.agg(max("x")).head().getLong(0)).contains(5L))
    assert(Iterate.until(init, 3)((df, _) => Some(df)).isEmpty)
  }

  test("scan returns every iterate, the initial one first, on the cadence's pins") {
    val init = spark.range(0, 2).toDF("x")
    val (all, pins) = added(Iterate.scan(init, 1 to 4, every = 2) { (df, r) =>
      r.pin(df.select((col("x") + 1).as("x")))
    })
    assert(all.map(_.agg(max("x")).head().getLong(0)) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(pins == 2)
  }
}
