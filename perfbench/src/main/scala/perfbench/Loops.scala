package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

/** One completed request: when it was issued, when it ended, and what it
  * returned, or what it threw. */
final case class Done[T](startNs: Long, endNs: Long, value: Try[T]) {
  def latencyMs: Double = (endNs - startNs) / 1e6
}

/** A closed load loop: each client issues its next request only after its
  * previous one completes. */
object Loops {

  /** `clients` threads each run requests back to back until `deadlineNs`
    * (System.nanoTime) or until `limit` requests have been issued; request
    * i is `op(i)`, numbered in the order the clients take them. A request
    * that throws is returned as a failed [[Done]] and its client goes on,
    * so a failure is counted rather than silently shrinking the load. */
  def closed[T](clients: Int, deadlineNs: Long, limit: Int = Int.MaxValue)(op: Int => T)
      : Vector[Done[T]] = {
    val out = new ConcurrentLinkedQueue[Done[T]]()
    val next = new AtomicInteger(0)
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadlineNs && { i = next.getAndIncrement(); i < limit }) {
          val t0 = System.nanoTime()
          val v = Try(op(i))
          out.add(Done(t0, System.nanoTime(), v))
        }
      }, s"perfbench-client-$c")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toVector
  }
}
