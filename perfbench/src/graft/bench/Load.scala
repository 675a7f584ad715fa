package graft.bench

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/** Load generators. All load comes from this process, on at most `conns`
  * threads, one connection each. */
object Load {

  /** Outcome of one request: its timing and whether it failed. */
  final case class Done(i: Int, t: Stats.Timed, ok: Boolean)

  /** Open loop: request `i` is due at `start + schedule(i)` whatever the
    * state of earlier ones. Each of `conns` threads takes the next due
    * request when it is free, so a stall queues later requests and their
    * latency (timed from the due time) shows it. Returns one [[Done]] per
    * request, in index order. */
  def openLoop(schedule: Array[Long], conns: Int)(send: (Int, Int) => Unit): Array[Done] = {
    val out = new Array[Done](schedule.length)
    val next = new AtomicInteger(0)
    val start = System.nanoTime() + 2000000L
    val threads = (0 until conns).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < schedule.length) {
          val free = System.nanoTime()
          val due = start + schedule(i)
          var now = free
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          val ok = try { send(c, i); true } catch { case _: Exception => false }
          out(i) = Done(i, Stats.Timed(due, now, System.nanoTime(), free), ok)
          i = next.getAndIncrement()
        }
      }, s"load-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out
  }

  /** Closed loop on one thread: send request `i` when request `i-1` has
    * completed, until `seconds` have passed (at least `minRequests`). */
  def closedLoop(seconds: Double, minRequests: Int)(send: Int => Unit): Array[Done] = {
    val b = Array.newBuilder[Done]
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end || i < minRequests) {
      val s = System.nanoTime()
      val ok = try { send(i); true } catch { case _: Exception => false }
      b += Done(i, Stats.Timed(s, s, System.nanoTime(), s), ok)
      i += 1
    }
    b.result()
  }
}
