package graft

import graft.exec.Materialize
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The one materialize primitive: a capped eager checkpoint, and the
  * observing form's naming, missing-key and null rules. */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark._

  test("Materialize(df) is an eager LogicalRDD leaf with the same rows") {
    val m = Materialize(spark.range(10).toDF("id").filter(col("id") % 2 === 0))
    assert(m.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(m.count() == 5)
  }

  test("the leaf caps a size estimate that squares every round") {
    var s = Materialize(spark.range(4).toDF("id"))
    for (_ <- 1 to 6) {
      val t = s.select(col("id").as("j"))
      s = Materialize(s.join(t, col("id") === col("j")).select(col("id")))
    }
    assert(s.queryExecution.analyzed.stats.sizeInBytes <= BigInt(Long.MaxValue))
    assert(s.count() == 4)
  }

  test("observed: a count reads exactly, from the materializing pass") {
    val o = Materialize.observed(spark.range(37).toDF("id"),
      count(lit(1)).as("n"))
    assert(o.long("n") == 37L)
    assert(o.df.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(o.df.count() == 37)
  }

  test("observed: sum over an empty frame (null) reads 0") {
    val o = Materialize.observed(
      spark.range(10).toDF("id").filter(col("id") < 0),
      sum(col("id")).as("s"), sum(col("id").cast("double")).as("d"))
    assert(o.long("s") == 0L)
    assert(o.double("d") == 0.0)
    assert(o.df.count() == 0)
  }

  test("observed: a Double metric round-trips") {
    val o = Materialize.observed(spark.range(4).toDF("id"),
      sum(col("id") * 0.25).as("x"))
    assert(o.double("x") == 1.5)
  }

  test("observed: a missing key throws instead of reading as zero") {
    val o = Materialize.observed(spark.range(3).toDF("id"),
      count(lit(1)).as("n"))
    val e = intercept[IllegalStateException](o.long("changed"))
    assert(e.getMessage.contains("changed"))
  }

  test("observed: the projection runs after the observation") {
    val o = Materialize.observed(
      spark.range(6).toDF("id").select(col("id"), (col("id") > 3).as("ch")),
      Seq(sum(when(col("ch"), 1L).otherwise(0L)).as("n")),
      _.select(col("id")))
    assert(o.long("n") == 2L)
    assert(o.df.columns.toSeq == Seq("id"))
    assert(o.df.queryExecution.analyzed.isInstanceOf[LogicalRDD])
  }

  test("concurrent observing calls on one session each get their own value") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val sizes = Seq(11L, 23L, 37L, 51L, 64L, 79L, 90L, 101L)
    try {
      val got = Await.result(Future.sequence(sizes.map(n => Future {
        n -> Materialize.observed(spark.range(n).toDF("id"),
          count(lit(1)).as("n")).long("n")
      })), Duration.Inf)
      got.foreach { case (n, seen) => assert(seen == n, s"range($n) read $seen") }
    } finally pool.shutdown()
  }
}
