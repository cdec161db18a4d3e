package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The iteration combinator behind the operators' Pregel-on-DataFrames
  * supersteps (Malewicz et al., SIGMOD 2010): a loop hands its step to
  * `fold`, `scan` or `until`, and the step pins frames through the
  * [[Iterate.Round]] it is given.
  *
  * Pins are `Dataset.localCheckpoint` (eager, blocks held by the
  * executors, lineage cut), so plans and Catalyst stats are those of a
  * hand-written `localCheckpoint`. A round is on the loop's cadence when
  * its number is a multiple of `every`; `pin` checkpoints only on such
  * rounds and passes the frame through otherwise, so one loop can run
  * lazy for a few rounds and truncate lineage on the next.
  *
  * Freeing: once a round has pinned, the pins of the previous round that
  * pinned are unpersisted, so a loop holds one round's pins, not one per
  * round; the latest pins are never freed. A frame an accumulator still
  * reads is never freed: `scan` keeps every round's pins (its caller
  * reads every iterate), and `keep` pins a frame for the whole loop. If
  * a step throws, every pin the loop made is unpersisted before the
  * exception propagates. Frames the caller pinned before the loop (the
  * edge list, the initial iterate) are the caller's.
  */
object Iterate {

  /** Round `i` of a loop, and the pins its step makes. */
  final class Round private[Iterate] (val i: Int, onCadence: Boolean) {
    private[Iterate] val pins = ArrayBuffer.empty[DataFrame]
    private[Iterate] val kept = ArrayBuffer.empty[DataFrame]

    /** `df` pinned if this round is on the cadence, else `df` itself. */
    def pin(df: DataFrame): DataFrame =
      if (onCadence) { val p = df.localCheckpoint(); pins += p; p } else df

    /** `df` pinned on every round and held until the loop ends. */
    def keep(df: DataFrame): DataFrame = { val p = df.localCheckpoint(); kept += p; p }
  }

  /** Runs `step` over `rounds` from `init`; returns the last iterate. A
    * round pins when its number is a multiple of `every`, except the
    * last one when `pinLast` is false.
    */
  def fold[S](init: S, rounds: Range, every: Int = 1, pinLast: Boolean = true)(
      step: (S, Round) => S): S =
    loop(init, cadence(rounds, every, pinLast), freeing = true)((s, r) => Some(step(s, r)))._1

  /** As [[fold]], but returns every iterate, `init` first, and frees no
    * pin: the caller reads them all.
    */
  def scan[S](init: S, rounds: Range, every: Int = 1)(step: (S, Round) => S): Seq[S] = {
    val all = ArrayBuffer(init)
    loop(init, cadence(rounds, every, pinLast = true), freeing = false) { (s, r) =>
      val next = step(s, r); all += next; Some(next)
    }
    all.toSeq
  }

  /** Runs `step` on rounds 1 to `max`, each on the cadence, until it
    * returns `None`; returns the iterate it stopped at, or `None` when
    * all `max` rounds went by without stopping.
    */
  def until[S](init: S, max: Int)(step: (S, Round) => Option[S]): Option[S] = {
    val (last, stopped) = loop(init, cadence(1 to max, 1, pinLast = true), freeing = true)(step)
    if (stopped) Some(last) else None
  }

  private def cadence(rounds: Range, every: Int, pinLast: Boolean): Iterator[Round] =
    rounds.iterator.map(i => new Round(i, i % every == 0 && (pinLast || i != rounds.last)))

  private def loop[S](init: S, rounds: Iterator[Round], freeing: Boolean)(
      step: (S, Round) => Option[S]): (S, Boolean) = {
    val made = ArrayBuffer.empty[Round]
    var state = init
    var stopped = false
    var latest: Option[Round] = None
    try {
      while (!stopped && rounds.hasNext) {
        val r = rounds.next()
        made += r
        step(state, r) match {
          case None => stopped = true
          case Some(next) =>
            state = next
            if (freeing && r.pins.nonEmpty) {
              latest.foreach(l => { free(l.pins); l.pins.clear() })
              latest = Some(r)
            }
        }
      }
      (state, stopped)
    } catch {
      case e: Throwable =>
        made.foreach(r => free(r.pins ++ r.kept))
        throw e
    }
  }

  private def free(pins: Iterable[DataFrame]): Unit = pins.foreach {
    _.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
