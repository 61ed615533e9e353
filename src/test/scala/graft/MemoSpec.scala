package graft

import graft.exec.{Memo, Par}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** The one way a value is shared: one compute per key, run by the first
  * caller; a failure reaches every waiter and is not cached; keys holding
  * different sessions are different entries. */
class MemoSpec extends AnyFunSuite {
  import TestSpark._

  /** `callers` concurrent `getOrCompute(key)` calls whose compute is held
    * open until every caller has arrived; returns each caller's outcome
    * and how many times the compute ran. */
  private def race[V](memo: Memo[String, V], callers: Int)(v: => V)
      : (Seq[Try[V]], Int) = {
    val computes = new AtomicInteger()
    val arrived = new CountDownLatch(callers)
    val release = new CountDownLatch(1)
    val opener = new Thread(() => {
      arrived.await()
      Thread.sleep(300) // let the last arrival reach the entry's future
      release.countDown()
    })
    opener.start()
    val out = Par.map(1 to callers, callers) { _ =>
      arrived.countDown()
      Try(memo.getOrCompute("k") {
        computes.incrementAndGet()
        release.await()
        v
      })
    }
    opener.join()
    (out, computes.get)
  }

  test("8 concurrent callers on one key run the compute exactly once") {
    val memo = new Memo[String, Int]
    val (out, computes) = race(memo, 8)(42)
    assert(computes == 1)
    assert(out.forall(_.toOption.contains(42)))
    assert(memo.getOrCompute("k")(fail("recomputed a stored value")) == 42)
  }

  test("a throwing compute reaches every waiter and is recomputed next call") {
    val memo = new Memo[String, Int]
    val (out, computes) = race(memo, 8)(throw new IllegalStateException("boom"))
    assert(computes == 1)
    assert(out.forall(_.failed.toOption.exists(_.getMessage == "boom")),
      s"not every caller saw the failure: $out")
    assert(memo.getOrCompute("k")(7) == 7)
  }

  test("two sessions with the same (dir, tag) get separate entries") {
    val other: SparkSession = spark.newSession()
    val memo = new Memo[(SparkSession, String, String), Int]
    assert(memo.getOrCompute((spark, "/d", "t"))(1) == 1)
    assert(memo.getOrCompute((other, "/d", "t"))(2) == 2)
    assert(memo.getOrCompute((spark, "/d", "t"))(3) == 1)
  }
}
