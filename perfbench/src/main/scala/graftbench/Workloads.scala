package graftbench

import graft.operators._
import graft.plans.SnapshotStore
import graft.sources.{Extract, Pages, WebGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Listener readings of several spans taken together. */
final case class Joined(c: Counts, gapFrac: Double, busyFrac: Double,
    skew: Double)

object Joined {
  def of(spans: Span*): Joined = {
    val st = spans.flatMap(s => s.stats.map(x => (s.seconds, x)))
    val wall = st.map(_._1).sum.max(1e-9)
    Joined(st.map(_._2.c).foldLeft(Counts.Zero)(_ + _),
      st.map { case (w, x) => w * x.driverGapFrac }.sum / wall,
      st.map { case (w, x) => w * x.execBusyFrac }.sum / wall,
      Stats.median(st.map(_._2.taskSkew).filter(_ > 0)))
  }
}

/** Shared pieces of the three workloads. */
object Common {
  /** The raw edge table `Pages.synthesizeEdges` generates, made in the
    * driver from the generator's ground-truth link targets. */
  def rawEdges(n: Int, seed: Long, avgOut: Int): (Array[Int], Array[Int]) = {
    val src = Array.newBuilder[Int]
    val dst = Array.newBuilder[Int]
    for (id <- 0 until n; t <- Pages.linkTargets(id, n, seed, avgOut)) {
      src += id
      dst += t.toInt
    }
    (src.result(), dst.result())
  }

  def ranks(df: DataFrame): Map[Int, Double] =
    df.select(col("id"), col("value")).collect()
      .map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap

  def labels(df: DataFrame, labelCol: String): Map[Int, Long] =
    df.select(col("id"), col(labelCol)).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap

  def mismatch(what: String, bad: Seq[Int]): Option[String] =
    if (bad.isEmpty) None
    else Some(s"${bad.size} $what differ, e.g. ids ${bad.take(5).mkString(",")}")

  def supersteps(run: Run, algo: String, ms: Seq[IterMetric]): Unit =
    ms.foreach { m =>
      run.rows += Json.obj("kind" -> "superstep", "algo" -> algo,
        "superstep" -> m.superstep, "l1_residual" -> m.l1Residual,
        "edges_processed" -> m.edgesProcessed, "millis" -> m.millis)
    }

  /** Topo PageRank layer readings over its spans and superstep rows. */
  def pagerankLayer(run: Run, edges: Long, iters: Int, ms: Seq[IterMetric],
      spans: Span*): Unit = {
    val j = Joined.of(spans: _*)
    val perStep = ms.map(m => m.millis.toDouble * edges / m.edgesProcessed.max(1))
    run.put("pagerank.iters", iters)
    run.put("pagerank.superstep_ms_p50", Stats.median(perStep))
    run.put("pagerank.superstep_ms_max", if (perStep.isEmpty) 0 else perStep.max)
    run.put("pagerank.jobs_per_iter", j.c.jobs.toDouble / iters)
    run.put("pagerank.shuffle_write_bytes_per_iter", j.c.shuffleWrite.toDouble / iters)
    run.put("pagerank.shuffle_read_bytes_per_iter", j.c.shuffleRead.toDouble / iters)
    run.put("pagerank.exec_busy_frac", j.busyFrac)
    run.put("pagerank.driver_gap_frac", j.gapFrac)
    run.put("pagerank.task_skew", j.skew)
    run.put("pagerank.spill_bytes", j.c.spill)
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  /** Files under `path` whose name passes `keep`: (count, total bytes). */
  def files(path: String, keep: String => Boolean): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L)
    val s = java.nio.file.Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f =>
        java.nio.file.Files.isRegularFile(f) && keep(f.getFileName.toString)).toSeq
      (fs.size.toLong, fs.map(f => java.nio.file.Files.size(f)).sum)
    } finally s.close()
  }
}

/**
 * web_pipeline: html pages -> WebGraph.fromPages -> topo PageRank to
 * L1 <= `Tol` with a SnapshotStore committing every `Every` supersteps,
 * stopped at superstep `StopAt`, then resumed to convergence. The only
 * workload with html extraction, url densification and snapshot writes.
 * `Tol` is 1e-2 (~11 supersteps), not the north rule's 1e-6 (~57): at
 * ~0.35 s a warm superstep and ~0.8 s a cold one on a 4-core VM, 1e-6
 * would take most of a run's time budget on its own.
 */
final class WebPipeline(o: Opts) extends Workload {
  val nominalPassS = 10.0
  private val n = if (o.tiny) 500 else 2000
  private val Tol = 1e-2
  private val Every = 5
  private val StopAt = 5
  private var pages: DataFrame = _

  private lazy val ref = {
    val urls = (0 until n).map(i => Pages.url(i.toLong)).sorted.toArray
    val id = urls.zipWithIndex.toMap
    val (rs, rd) = Common.rawEdges(n, o.seed, 8)
    val (s, d) = Reference.clean(rs.map(v => id(Pages.url(v))),
      rd.map(v => id(Pages.url(v))))
    val g = Reference.csr(n, Array.fill(n)(true), s, d)
    val keys = s.indices.map(i => (s(i).toLong << 32) | d(i)).sorted
    (urls, keys, g, Reference.pagerankTopo(g, Tol, 1000))
  }

  def setup(run: Run): Unit = {
    if (pages != null) pages.unpersist(blocking = true)
    pages = Pages.synthesize(run.spark, n, o.seed, numPartitions = run.partitions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    pages.count()
  }

  def pass(run: Run): Seq[Span] = {
    val spark = run.spark
    val root = s"${o.stateDir}/snapshots"
    Common.deleteTree(root)
    val (web, ingest) = run.call("ingest")(
      WebGraph.fromPages(spark, pages, numPartitions = run.partitions))
    try {
      val store = new SnapshotStore(root, spark)
      val (leg1, s1) = run.call("pagerank.durable")(PageRank.runTopo(
        web.adjacency, tol = Tol, maxIter = StopAt, checkpointEvery = Every,
        store = Some(store)))
      val resumeStep = store.latest("pagerank_topo").map(_._1).getOrElse(-1)
      val (leg2, s2) = run.call("pagerank.resume")(PageRank.runTopo(
        web.adjacency, tol = Tol, checkpointEvery = Every,
        store = Some(store), resume = true))
      Common.supersteps(run, "pagerank_topo", leg1.metrics ++ leg2.metrics)

      val (urls, keys, g, (want, wantIters, _)) = ref
      run.check("ingest.graph") {
        val dict = web.dict.select(col("url"), col("id")).collect()
        val got = web.edges.select(col("src"), col("dst")).collect()
          .map(r => (r.getLong(0) << 32) | r.getLong(1)).sorted.toSeq
        if (dict.length != n || !dict.forall(r =>
            r.getLong(1) < n && urls(r.getLong(1).toInt) == r.getString(0)))
          Some("url dictionary differs from the sorted page urls")
        else if (got != keys)
          Some(s"edge set differs: ${got.size} edges, want ${keys.size}")
        else None
      }
      run.check("pagerank.durable_stop") {
        if (leg1.iterations == math.min(StopAt, wantIters) &&
            resumeStep == leg1.iterations) None
        else Some(s"stopped at ${leg1.iterations}, latest snapshot $resumeStep")
      }
      run.check("pagerank.resumed_ranks") {
        if (!leg2.converged || leg2.iterations != wantIters)
          Some(s"resumed run: ${leg2.iterations} supersteps " +
            s"(converged=${leg2.converged}), uninterrupted: $wantIters")
        else Common.mismatch("ranks",
          Reference.rankMismatches(g, want.map(run.reference), Common.ranks(leg2.ranks)))
      }

      if (run.traced) traced(run, web, store, resumeStep, ingest, leg1, s1, leg2, s2)
      Seq(ingest, s1, s2)
    } finally web.adjacency.unpersist()
  }

  /** Per-layer readings: ingest re-run as its separate public calls, and
    * the snapshot store's contents. */
  private def traced(run: Run, web: WebGraph, store: SnapshotStore,
      resumeStep: Int, ingest: Span, leg1: PageRankResult, s1: Span,
      leg2: PageRankResult, s2: Span): Unit = {
    val spark = run.spark
    import spark.implicits._
    run.put("ingest_s", ingest.seconds)
    run.put("pagerank_converge_s", s1.seconds + s2.seconds)
    run.put("pagerank_eps", web.adjacency.numEdges.toDouble * leg2.iterations /
      (s1.seconds + s2.seconds))
    run.put("sources.shuffle_bytes", Joined.of(ingest).c.shuffleWrite)

    val (urlEdges, ex) = run.call("trace.sources.extract") {
      val e = WebGraph.extractEdges(spark, pages).persist(StorageLevel.MEMORY_AND_DISK)
      run.put("sources.extract_rows", e.count())
      e
    }
    val (dict, dn) = run.call("trace.ranking.densify")(WebGraph.densify(spark,
      pages.select(col("url")).as[String].map(Extract.normalize).toDF("url")
        .union(urlEdges.select(col("dst_url").as("url"))), run.partitions))
    val (edges, dj) = run.call("trace.sources.dict_join_clean") {
      val e = GraphOps.clean(urlEdges
        .join(dict.select(col("url").as("src_url"), col("id").as("src")), "src_url")
        .join(dict.select(col("url").as("dst_url"), col("id").as("dst")), "dst_url")
        .select(col("src"), col("dst"))).persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    val mark = run.rddMark()
    val (adj, ab) = run.call("trace.adjacency.build")(Adjacency.build(edges,
      numPartitions = run.partitions, explicitVertices = Some(dict.select(col("id")))))
    run.put("adjacency.bytes_per_edge",
      run.cachedSince(mark).toDouble / adj.numEdges.max(1))
    adj.unpersist()
    Seq(urlEdges, edges).foreach(_.unpersist())
    run.put("sources.extract_s", ex.seconds)
    run.put("ranking.densify_s", dn.seconds)
    run.put("sources.dict_join_clean_s", dj.seconds)
    run.put("adjacency.build_s", ab.seconds)

    Common.pagerankLayer(run, web.adjacency.numEdges, leg2.iterations,
      leg1.metrics ++ leg2.metrics, s1, s2)
    val j = Joined.of(s1, s2)
    val (commits, _) = Common.files(s"${store.root}/snapshots", _.endsWith(".json"))
    val (_, bytes) = Common.files(s"${store.root}/data", _ => true)
    run.put("snapshot.commits", commits)
    run.put("snapshot.bytes_written", bytes)
    run.put("snapshot.write_jobs", j.c.snapshotJobs)
    run.put("snapshot.write_s", j.c.snapshotJobMs / 1000.0)
    val (_, lt) = run.call("trace.snapshot.latest")(
      store.latest("pagerank_topo").map(_._2.count()))
    run.put("snapshot.latest_s", lt.seconds)
    run.put("snapshot.metrics_rows", store.metrics().count())
    run.put("snapshot.resume_step", resumeStep)
  }
}

/**
 * frontier_kernels: clean, symmetrize and two adjacency builds, then
 * connected components, min-label propagation to its fixpoint, triangle
 * listing and residual PageRank for `Rounds` rounds. Bound by per-round
 * driver cost rather than bytes; no ingest and no store.
 */
final class FrontierKernels(o: Opts) extends Workload {
  val nominalPassS = 13.0
  private val n = if (o.tiny) 1000 else 3000
  private val AvgOut = 8
  private val Rounds = 4
  private var raw: DataFrame = _

  private lazy val ref = {
    val (rs, rd) = Common.rawEdges(n, o.seed, AvgOut)
    val (s, d) = Reference.clean(rs, rd)
    val present = Reference.endpoints(n, s, d)
    val dir = Reference.csr(n, present, s, d)
    val (ss, sd) = Reference.symmetrize(s, d)
    val sym = Reference.csr(n, present, ss, sd)
    (dir, sym, Reference.components(sym), Reference.minLabelFixpoint(dir),
      Reference.triangles(sym), Reference.pagerankResidual(dir, 1e-6, Rounds))
  }

  def setup(run: Run): Unit = {
    if (raw != null) raw.unpersist(blocking = true)
    raw = Pages.synthesizeEdges(run.spark, n, o.seed, AvgOut, run.partitions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    raw.count()
  }

  def pass(run: Run): Seq[Span] = {
    val parts = run.partitions
    var builds = Seq.empty[Span]
    val ((sym, adjD, adjS, bytes), b) = run.call("graph_build") {
      val clean = GraphOps.clean(raw).localCheckpoint(true)
      val sym = GraphOps.symmetrize(clean).localCheckpoint(true)
      val mark = run.rddMark()
      val (d, bd) = run.rec.span("adjacency.build")(
        Adjacency.build(clean, numPartitions = parts))
      val (s, bs) = run.rec.span("adjacency.build")(
        Adjacency.build(sym, numPartitions = parts))
      builds = Seq(bd, bs)
      val bytes = if (run.traced) run.cachedSince(mark) else 0L
      (sym, d, s, bytes)
    }
    try {
      val (cc, s1) = run.call("cc")(ConnectedComponents.run(adjS))
      val (lpa, s2) = run.call("lpa")(LabelPropagation.runMin(adjD, 0))
      var tspans = Seq.empty[Span]
      val (tri, s3) = run.call("triangles") {
        val ((oriented, olist), so) = run.rec.span("triangles.orient") {
          val or = Triangles.orientFromSym(sym, Triangles.symDegrees(sym))
            .localCheckpoint(true)
          (or, Mining.outLists(or).localCheckpoint(true))
        }
        val (count, sl) = run.rec.span("triangles.list")(
          Triangles.listingFrom(oriented, olist).count())
        tspans = Seq(so, sl)
        count
      }
      val (pr, s4) = run.call("pagerank_residual")(
        PageRank.runResidual(adjD, tol = 1e-6, maxIter = Rounds))
      Common.supersteps(run, "cc", cc.metrics)
      Common.supersteps(run, "pagerank_residual", pr.metrics)

      val (dir, symG, wantCc, wantLpa, wantTri, (wantPr, wantRounds)) = ref
      val comps = Common.labels(cc.components, "comp")
      run.check("cc.labels")(Common.mismatch("component labels",
        Reference.labelMismatches(symG, wantCc.map(v => run.reference(v.toLong).toInt), comps)))
      run.check("lpa.labels")(Common.mismatch("labels",
        Reference.labelMismatches(dir, wantLpa, Common.labels(lpa, "label"))))
      run.check("triangles.count") {
        if (tri == run.reference(wantTri)) None
        else Some(s"$tri triangles, want $wantTri")
      }
      run.check("pagerank_residual.ranks") {
        if (pr.iterations != wantRounds)
          Some(s"${pr.iterations} rounds, want $wantRounds")
        else Common.mismatch("ranks",
          Reference.rankMismatches(dir, wantPr, Common.ranks(pr.ranks)))
      }

      if (run.traced) {
        run.put("graph_build_s", b.seconds)
        run.put("cc_s", s1.seconds)
        run.put("lpa_s", s2.seconds)
        run.put("triangles_s", s3.seconds)
        run.put("pagerank_residual_s", s4.seconds)
        run.put("adjacency.build_s", builds.map(_.seconds).sum)
        run.put("adjacency.bytes_per_edge",
          bytes.toDouble / (adjD.numEdges + adjS.numEdges).max(1))
        val jc = Joined.of(s1)
        run.put("cc.rounds", cc.iterations)
        run.put("cc.components", comps.values.toSet.size)
        run.put("cc.jobs", jc.c.jobs)
        run.put("cc.shuffle_bytes", jc.c.shuffleWrite)
        run.put("cc.driver_gap_frac", jc.gapFrac)
        val jl = Joined.of(s2)
        run.put("lpa.jobs", jl.c.jobs)
        run.put("lpa.shuffle_bytes", jl.c.shuffleWrite)
        run.put("lpa.driver_gap_frac", jl.gapFrac)
        run.put("triangles.orient_s", tspans.head.seconds)
        run.put("triangles.list_s", tspans(1).seconds)
        run.put("triangles.count", tri)
        run.put("triangles.shuffle_bytes", Joined.of(s3).c.shuffleWrite)
        val jp = Joined.of(s4)
        run.put("pagerank_residual.rounds", pr.iterations)
        run.put("pagerank_residual.jobs", jp.c.jobs)
        run.put("pagerank_residual.driver_gap_frac", jp.gapFrac)
      }
      Seq(b, s1, s2, s3, s4)
    } finally {
      adjD.unpersist()
      adjS.unpersist()
    }
  }
}
