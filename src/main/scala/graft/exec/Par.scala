package graft.exec

import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Success, Try}

/**
 * The one way independent Spark jobs are overlapped: `Par.map(xs, width)(f)`
 * runs `f` over `xs` on at most `width` threads and returns the results in
 * input order; `Par.both(a, b)` runs two thunks side by side (the
 * engine's analog of `galois::do_specified`).
 *
 * Rules:
 *  - per-call threads: each call starts its own worker threads and joins
 *    them before it returns or throws, so no worker outlives the call.
 *    The workers are created by the calling thread, so they inherit its
 *    Spark local properties (job description, job tags, scheduler pool);
 *    a long-lived shared pool's threads would carry whatever properties
 *    they were created with;
 *  - failures: every started thunk runs to completion first; the first
 *    failure in input order is then rethrown as thrown.
 */
object Par {

  def map[A, B](xs: Seq[A], width: Int)(f: A => B): Vector[B] = {
    val in = xs.toVector
    val out = new Array[Try[B]](in.size)
    val next = new AtomicInteger()
    val workers = Vector.tabulate(width.min(in.size).max(1)) { w =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < in.size) {
          out(i) = try Success(f(in(i))) catch { case e: Throwable => Failure(e) }
          i = next.getAndIncrement()
        }
      }, s"graft-par-$w")
    }
    workers.foreach(_.start())
    // an interrupted caller interrupts its workers and still waits for them
    try workers.foreach(_.join())
    finally workers.foreach { t => t.interrupt(); t.join() }
    out.toVector.map(_.get)
  }

  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = map(Seq[() => Any](() => a, () => b), 2)(_())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
