package graft

import graft.operators.{ConnectedComponents, PageRank}
import graft.plans.SnapshotStore
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** Checkpoint/resume semantics (north rule: resumable mid-iteration). */
class ResumeSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String =
    Files.createTempDirectory(
      Paths.get("target"), "snap").toString

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

  test("push PageRank resumes mid-run and matches uninterrupted") {
    val full = PageRank.runPush(web.adjacency, tol = 1e-6)
    assert(full.converged)

    val store = new SnapshotStore(tmp(), spark)
    // interrupted run: stops at superstep 12 (last commit at 8)
    val partial = PageRank.runPush(web.adjacency, tol = 1e-6, maxIter = 12,
      checkpointEvery = 8, store = Some(store))
    assert(!partial.converged)
    assert(store.latest("pagerank_push").map(_._1).contains(8))

    val resumed = PageRank.runPush(web.adjacency, tol = 1e-6,
      checkpointEvery = 8, store = Some(store), resume = true)
    assert(resumed.converged)
    assert(resumed.iterations == full.iterations)

    val a = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxDiff = a.map { case (id, v) => math.abs(v - b(id)) }.max
    assert(maxDiff <= 1e-12, s"resumed diverged by $maxDiff")
  }

  // Supersteps' bookkeeping, pinned per kernel: the committed supersteps
  // (manifest names) and the metrics table's (algo, superstep) rows in
  // append order, for an interrupted run and its resume on one store. The
  // expected lists were taken by running these same calls on the
  // hand-written per-kernel loops that Supersteps replaced.
  private def bookkeeping(algo: String)(calls: Option[SnapshotStore] => Unit)
      : (Seq[Int], Seq[(String, Int)]) = {
    val store = new SnapshotStore(tmp(), spark)
    calls(Some(store))
    val manifest = (Pattern.quote(algo) + """-(\d+)\.json""").r
    val commits = Files.list(Paths.get(store.root, "snapshots")).iterator()
      .asScala.map(_.getFileName.toString)
      .collect { case manifest(n) => n.toInt }.toSeq.sorted
    val row = """"algo":"([^"]+)","superstep":(\d+)""".r.unanchored
    val rows = Files.readAllLines(Paths.get(store.root, "metrics",
      "metrics.jsonl")).asScala.toSeq.map { case row(a, n) => (a, n.toInt) }
    (commits, rows)
  }

  test("Supersteps bookkeeping: checked topo PageRank") {
    val (commits, rows) = bookkeeping("pagerank_topo") { store =>
      PageRank.runTopo(web.adjacency, tol = 1e-6, maxIter = 14,
        checkpointEvery = 10, store = store)
      PageRank.runTopo(web.adjacency, tol = 1e-6, checkpointEvery = 10,
        store = store, resume = true)
    }
    assert(commits == (10 to 60 by 10))
    assert(rows == ((1 to 14) ++ (11 to 60)).map("pagerank_topo" -> _))
  }

  test("Supersteps bookkeeping: fixed topo PageRank, 8-step chains") {
    // chains end at 8, 16 and 20 (maxIter), then 26 on resume; each one
    // reaches or crosses a multiple of 5, so each is committed
    val (commits, rows) = bookkeeping("pagerank_topo") { store =>
      PageRank.runTopo(web.adjacency, tol = -1, maxIter = 20,
        checkpointEvery = 5, store = store)
      PageRank.runTopo(web.adjacency, tol = -1, maxIter = 26,
        checkpointEvery = 5, store = store, resume = true)
    }
    assert(commits == Seq(8, 16, 20, 26))
    assert(rows == Seq(8, 16, 20, 26).map("pagerank_topo" -> _))
  }

  test("Supersteps bookkeeping: push PageRank") {
    val (commits, rows) = bookkeeping("pagerank_push") { store =>
      PageRank.runPush(web.adjacency, tol = 1e-6, maxIter = 12,
        checkpointEvery = 8, store = store)
      PageRank.runPush(web.adjacency, tol = 1e-6, checkpointEvery = 8,
        store = store, resume = true)
    }
    assert(commits == (8 to 96 by 8))
    assert(rows == ((1 to 12) ++ (9 to 96)).map("pagerank_push" -> _))
  }

  test("Supersteps bookkeeping: pull-residual PageRank") {
    val (commits, rows) = bookkeeping("pagerank_residual") { store =>
      PageRank.runResidual(web.adjacency, tol = 1e-8, maxIter = 12,
        checkpointEvery = 8, store = store)
      PageRank.runResidual(web.adjacency, tol = 1e-8, checkpointEvery = 8,
        store = store, resume = true)
    }
    // the converged superstep (126) is committed off the 8-grid
    assert(commits == (8 to 120 by 8) :+ 126)
    assert(rows == ((1 to 12) ++ (9 to 126)).map("pagerank_residual" -> _))
  }

  test("Supersteps bookkeeping: connected components") {
    val (commits, rows) = bookkeeping("cc") { store =>
      ConnectedComponents.run(symAdj, maxIter = 2, checkpointEvery = 2,
        store = store)
      ConnectedComponents.run(symAdj, checkpointEvery = 2, store = store,
        resume = true)
    }
    assert(commits == Seq(2, 4, 6))
    assert(rows == (1 to 6).map("cc" -> _))
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
    val manifest = Files.list(Paths.get(store.root, "snapshots"))
      .iterator().next()
    assert(Files.readString(manifest).contains("partition_lineage"))

    // lineage: one entry per written part file, rows summing to the state
    val state = spark.range(0, 50, 1, 3).selectExpr("id", "id * 0.5 AS value")
    store.commitState("x", 9, state)
    val lineage = Files.readString(
      Paths.get(store.root, "snapshots", "x-000000009.json"))
    val rows = """"rows":(\d+)""".r.findAllMatchIn(lineage)
      .map(_.group(1).toLong).toSeq
    val parts = Files.list(Paths.get(store.root, "data", "x",
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

  test("latest runs no Spark job and keeps the committed schema") {
    val store = new SnapshotStore(tmp(), spark)
    val committed = store.commitState("s", 5, spark.range(0, 20, 1, 2)
      .selectExpr("id", "id % 3 AS comp", "id * 0.5 AS value",
        "id % 2 = 0 AS changed"))
    // the listener sees every job in order: once it has seen the
    // sentinel job started after `latest`, it has seen any job of `latest`
    val key = "graft.spec.phase"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setLocalProperty(key, "latest")
      val (step, resumed) = store.latest("s").get
      val schema = resumed.schema
      spark.sparkContext.setLocalProperty(key, "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("sentinel"))
      assert(!seen.contains("latest"), "latest ran a Spark job")
      assert(step == 5)
      assert(schema == committed.schema)
      assert(resumed.orderBy("id").collect().toSeq ==
        committed.orderBy("id").collect().toSeq)
    } finally {
      spark.sparkContext.setLocalProperty(key, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
