package graft

import org.scalatest.funsuite.AnyFunSuite

/** Global plan-shape guards over EVERY driver query at sf0.001: the
  * scale-killers must never reappear in any executed plan. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"

  test("driver contract: every oracle key has a query; names are stable") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    // the ONLY sanctioned rows-only query: a frequent-subgraph pattern
    // count is not expressible as one SQL query (the driver records a
    // weaker rows-only check); its correctness gate is FsmEnumerateSpec
    // (brute-force exact-MNI + closed-form tier equality).
    val rowsOnly = Set("fsm_enum4_s4")
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    assert((q -- o -- rowsOnly).isEmpty,
      s"queries without oracles (only $rowsOnly is sanctioned): ${q -- o -- rowsOnly}")
    assert((rowsOnly -- q).isEmpty, "stale rows-only allowlist entry")
  }

  test("exact dedup never shuffles raw text bytes (digest-keyed exchange)") {
    val plan = SparkEntry.queries("dedup_exact")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("md5"), "aggregate key should be the md5 digest")
    assert(!plan.contains("hashpartitioning(text"),
      s"raw text used as an exchange key:\n${plan.take(2000)}")
  }

  test("batch sessionization plans no per-group buffering (window, not " +
      "mapGroups)") {
    val plan = SparkEntry.queries("stream_sessions")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MapGroups"),
      s"batch sessionize still buffers per user:\n${plan.take(2000)}")
  }

  test("bipart/kway never construct a global (single-partition) window") {
    // bisect/kway eagerly checkpoint every round, so the scale-killing
    // exchange would hide inside intermediate actions the final plan
    // doesn't show. Two guards: (1) the tiered-cumsum building block is
    // plan-asserted SinglePartition-free (GraphAlgoSpec), and (2) the
    // operator source must not reintroduce an unpartitioned
    // Window.orderBy — every window in Bipart.scala must be
    // Window.partitionBy(...), the per-part form.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        "src/main/scala/graft/operators/Bipart.scala")), "UTF-8")
    assert(!src.contains("Window.orderBy"),
      "Bipart.scala constructs a global Window.orderBy — use " +
        "Ranking.tieredCumSum or Window.partitionBy instead")
    // and the queries still execute with their invariants intact
    val parts = SparkEntry.queries("bipart_2")(spark, dir)
    assert(parts.groupBy("part").count().count() == 2)
  }

  // every Scala source under src/main (tests run from the checkout root)
  private lazy val mainSources: List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toList
  }
  private def read(f: java.nio.file.Path) =
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8")

  test("observed metrics and the capped checkpoint live only in graft.exec") {
    // every round's observed count goes through graft.exec.Materialize
    // (auto-named, a missing key throws); no operator hand-rolls it.
    // Every checkpoint goes through Materialize, every concurrent job set
    // through Par and every shared memo through Memo.
    val exec = java.nio.file.Paths.get("src/main/scala/graft/exec")
    val bridge = "GraftPlanBridge.scala"
    val files = mainSources.filterNot(_.startsWith(exec))
    assert(files.size > 40, s"source walk found only ${files.size} files")
    for (f <- files) {
      val src = read(f)
      for (banned <- Seq("Observation(", ".observe(", "def ck("))
        assert(!src.contains(banned),
          s"$f contains `$banned` — use graft.exec.Materialize")
      if (f.getFileName.toString != bridge) {
        assert(!src.contains("checkpointCapped"),
          s"$f calls the capped checkpoint directly — use Materialize(df)")
        for (banned <- Seq(".localCheckpoint(", "Executors.",
            "ExecutionContext", "identityHashCode", "computeIfAbsent"))
          assert(!src.contains(banned), s"$f contains `$banned` — use " +
            "graft.exec (Materialize, Par or Memo)")
      }
    }
    // nothing is tied to one checkout; tests run from its root
    val checkout = java.nio.file.Paths.get("").toAbsolutePath.toString + "/"
    for (f <- mainSources)
      assert(!read(f).contains(checkout),
        s"$f hard-codes the absolute checkout path $checkout")
  }

  test("snapshot commits, metrics rows and resume live only in Supersteps") {
    // the store-backed kernels loop through graft.operators.Supersteps,
    // which owns the resume lookup, the metrics row and the commit rule
    val owners = Set("Supersteps.scala", "SnapshotStore.scala")
    val files = mainSources.filterNot(f => owners(f.getFileName.toString))
    assert(files.size > 40, s"source walk found only ${files.size} files")
    for (f <- files; banned <- Seq("commitState(", "appendMetrics(",
        ".latest("))
      assert(!read(f).contains(banned),
        s"$f contains `$banned` — run the loop through Supersteps")
  }

  test("no driver query plans a cartesian product") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n${plan.take(2000)}")
    }
  }
}
