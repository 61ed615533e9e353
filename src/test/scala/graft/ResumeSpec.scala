package graft

import graft.operators.{ConnectedComponents, PageRank}
import graft.plans.SnapshotStore
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Checkpoint/resume semantics (north rule: resumable mid-iteration). */
class ResumeSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "snap").toString

  test("interrupted PageRank resumes from the last snapshot and matches") {
    val storeA = new SnapshotStore(tmp(), spark)
    val full = PageRank.runTopo(web.adjacency, tol = 1e-6,
      checkpointEvery = 10, store = Some(storeA))
    assert(full.converged)

    val storeB = new SnapshotStore(tmp(), spark)
    // interrupted run: dies at superstep 14 (last commit at 10)
    val partial = PageRank.runTopo(web.adjacency, tol = 1e-6, maxIter = 14,
      checkpointEvery = 10, store = Some(storeB))
    assert(!partial.converged)
    assert(storeB.latest("pagerank_topo").map(_._1).contains(10))

    val resumed = PageRank.runTopo(web.adjacency, tol = 1e-6,
      checkpointEvery = 10, store = Some(storeB), resume = true)
    assert(resumed.converged)
    assert(resumed.iterations == full.iterations)

    val a = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxDiff = a.map { case (id, v) => math.abs(v - b(id)) }.max
    assert(maxDiff <= 1e-12, s"resumed diverged by $maxDiff")
  }

  test("pull-residual PageRank resumes mid-run and matches uninterrupted") {
    val tol = 1e-8
    val full = PageRank.runResidual(web.adjacency, tol = tol)
    assert(full.converged)

    val store = new SnapshotStore(tmp(), spark)
    val partial = PageRank.runResidual(web.adjacency, tol = tol,
      maxIter = 12, checkpointEvery = 8, store = Some(store))
    assert(!partial.converged)
    assert(store.latest("pagerank_residual").map(_._1).contains(8))

    val resumed = PageRank.runResidual(web.adjacency, tol = tol,
      checkpointEvery = 8, store = Some(store), resume = true)
    assert(resumed.converged)

    val a = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxDiff = a.map { case (id, v) => math.abs(v - b(id)) }.max
    assert(maxDiff <= 1e-12, s"resumed diverged by $maxDiff")
  }

  test("CC resumes mid-run with identical labels") {
    val store = new SnapshotStore(tmp(), spark)
    val partial = ConnectedComponents.run(symAdj, maxIter = 2,
      checkpointEvery = 2, store = Some(store))
    assert(!partial.converged)
    val resumed = ConnectedComponents.run(symAdj, checkpointEvery = 2,
      store = Some(store), resume = true)
    assert(resumed.converged)
    val direct = ConnectedComponents.run(symAdj)
    val a = resumed.components.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = direct.components.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("snapshot store: manifests, latest, metrics table") {
    val store = new SnapshotStore(tmp(), spark)
    assert(store.latest("x").isEmpty)
    import spark.implicits._
    val s1 = Seq((1L, 0.5)).toDF("id", "value")
    store.commitState("x", 3, s1)
    store.commitState("x", 7, Seq((1L, 0.9)).toDF("id", "value"))
    val (step, df) = store.latest("x").get
    assert(step == 7)
    assert(df.collect().head.getDouble(1) == 0.9)
    store.appendMetrics("x", 1, 0.5, 100L, 12L)
    store.appendMetrics("x", 2, 0.25, 100L, 10L)
    val m = store.metrics()
    assert(m.count() == 2)
    assert(m.columns.contains("l1_residual"))
    // per-partition lineage recorded in the manifest
    val manifest = Files.list(java.nio.file.Paths.get(store.root, "snapshots"))
      .iterator().next()
    assert(Files.readString(manifest).contains("partition_lineage"))

    // lineage: one entry per written part file, rows summing to the state
    val state = spark.range(0, 50, 1, 3).selectExpr("id", "id * 0.5 AS value")
    store.commitState("x", 9, state)
    val lineage = Files.readString(
      java.nio.file.Paths.get(store.root, "snapshots", "x-000000009.json"))
    val rows = """"rows":(\d+)""".r.findAllMatchIn(lineage)
      .map(_.group(1).toLong).toSeq
    val parts = Files.list(java.nio.file.Paths.get(store.root, "data", "x",
      "step=9")).iterator().asScala.map(_.getFileName.toString)
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts == 3)
    assert(rows.length == parts, lineage)
    assert(rows.sum == 50L, lineage)
  }

  test("latest matches the algo name exactly, not a prefix") {
    import spark.implicits._
    val store = new SnapshotStore(tmp(), spark)
    store.commitState("x", 3, Seq((1L, 0.3)).toDF("id", "value"))
    store.commitState("x-y", 12, Seq((1L, 1.2)).toDF("id", "value"))
    store.commitState("x-y", 4, Seq((1L, 0.4)).toDF("id", "value"))
    assert(store.latest("x").map(_._1).contains(3))
    assert(store.latest("x-y").map(_._1).contains(12))
    assert(store.latest("x").get._2.collect().head.getDouble(1) == 0.3)
    assert(store.latest("y").isEmpty)
  }
}
