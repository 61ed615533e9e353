package graft

import graft.exec.Par
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one way independent jobs overlap: input order, failure after
  * every thunk finishes, no thread left behind, and the caller's Spark
  * local properties on every job a thunk runs. */
class ParSpec extends AnyFunSuite {
  import TestSpark._

  test("results come back in input order") {
    // later inputs finish first
    val got = Par.map(1 to 12, 4) { i => Thread.sleep((12 - i) * 5L); i * i }
    assert(got == (1 to 12).map(i => i * i))
    assert(Par.both("a", 2) == ("a", 2))
  }

  test("the first failure is rethrown after the other thunks finish") {
    val finished = new AtomicInteger()
    val e = intercept[IllegalStateException](Par.map(0 until 4, 4) { i =>
      if (i == 1) throw new IllegalStateException("first")
      if (i == 2) throw new IllegalArgumentException("second")
      Thread.sleep(300)
      finished.incrementAndGet()
    })
    assert(e.getMessage == "first")
    assert(finished.get == 2, "a thunk was still running when Par threw")
  }

  test("no pool thread is alive after a return or a throw") {
    val seen = new ConcurrentLinkedQueue[Thread]()
    Par.map(1 to 6, 3) { i => seen.add(Thread.currentThread()); i }
    intercept[RuntimeException](Par.both(
      { seen.add(Thread.currentThread()); throw new RuntimeException("x") },
      { seen.add(Thread.currentThread()); Thread.sleep(100) }))
    assert(seen.size == 8)
    assert(seen.asScala.forall(t => !t.isAlive && t != Thread.currentThread()))
  }

  test("a job run inside a thunk carries the caller's job description") {
    // two calls under two descriptions: a pool that outlived the first
    // call would run the second call's jobs under the first description
    val run = s"par-spec-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.job.description"))
          .filter(d => d != null && d.startsWith(run)).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (call <- 1 to 2) {
        spark.sparkContext.setJobDescription(s"$run-$call")
        val counts = Par.map(Seq(3L, 5L, 7L), 3)(n => spark.range(n).count())
        assert(counts == Seq(3L, 5L, 7L))
      }
      def jobs(call: Int) = seen.asScala.count(_ == s"$run-$call")
      val deadline = System.currentTimeMillis() + 10000
      while (jobs(2) < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(200)
      assert(jobs(1) >= 3 && jobs(2) == jobs(1),
        s"jobs per description: ${seen.asScala.groupBy(identity).map {
          case (d, ds) => d -> ds.size }}")
      assert(jobs(1) + jobs(2) == seen.size)
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
