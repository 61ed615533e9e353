package graft

import org.apache.spark.sql.execution.ExplainMode

/**
 * Times or explains a subset of the driver queries. Not part of the
 * driver contract — `Bench.scala` is the artifact surface (the whole
 * suite is `BenchSuite`); this main exists so individual queries can be
 * timed / re-timed / explained in isolation while optimizing, with the
 * same session config and the same `.count()` action as `BenchSuite`.
 *
 * Usage (all via sbt, env like the driver):
 *   runMain graft.BenchExtra time <query> [query...]   — per-query secs
 *   runMain graft.BenchExtra explain <tag> <query...>  — dump
 *       .explain("formatted") to plans/r06/<query>_<tag>.txt
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.session(cpus)
    // same steady-state warm-up as BenchSuite
    spark.read.parquet(s"$sfDir/region.parquet").limit(1).count()
    spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id")
      % 7).as("k")).count().count()

    def timeOne(name: String): Double = {
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      System.gc()
      secs
    }

    args.toList match {
      case "time" :: names =>
        val qs = if (names.isEmpty) SparkEntry.queries.keys.toList.sorted
          else names
        qs.foreach { n => println(f"EXTRA_Q $n ${timeOne(n)}%.2f") }
      case "explain" :: tag :: names =>
        val dir = new java.io.File("plans/r06")
        dir.mkdirs()
        names.foreach { n =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          val w = new java.io.PrintWriter(
            new java.io.File(dir, s"${n}_$tag.txt"))
          try w.println(txt) finally w.close()
          println(s"EXTRA_PLAN $n -> plans/r06/${n}_$tag.txt")
        }
      case other =>
        sys.error(s"unknown BenchExtra args: $other")
    }
    spark.stop()
  }
}
