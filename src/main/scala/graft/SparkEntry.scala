package graft

import graft.exec.{Materialize, Memo, Par}
import graft.operators._
import graft.sources.TpchGraph
import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 exercised over the
  * driver's parquet tables at `sfDir`; `oracleSql` holds the equivalent
  * DuckDB SQL (iterative kernels unrolled to the same fixed superstep
  * count — see [[Oracles]]).
  */
object SparkEntry {

  /** Ranks scaled to int64 nano-units so the hash compare is float-safe. */
  private def rankN(ranks: DataFrame): DataFrame =
    ranks.select(col("id"),
      round(col("value") * lit(1000000000L)).cast("long").as("rank_n"))

  // Every shared build below is computed once per (session, dir, tag):
  // Verify and Bench run many queries over the same graph in one JVM.
  // Adjacency builds are keyed by orientation; pagerank/pagerank_top20
  // and cc/cc_sizes share one run.
  private val memos = new Memo[(SparkSession, String, String), Any]
  private def memo[V](s: SparkSession, d: String, tag: String)(v: => V): V =
    memos.getOrCompute((s, d, tag))(v).asInstanceOf[V]
  private def adjDir(s: SparkSession, d: String): Adjacency =
    memo(s, d, "dir")(Adjacency.build(edgesE(s, d)))
  private def adjSym(s: SparkSession, d: String): Adjacency =
    memo(s, d, "sym")(Adjacency.build(symE(s, d)))
  private def adjWeighted(s: SparkSession, d: String): Adjacency =
    memo(s, d, "wdir")(
      Adjacency.build(GraphOps.attachWeights(edgesE(s, d))))
  private def ranks10(s: SparkSession, d: String): DataFrame =
    memo(s, d, "pr10")(rankN(PageRank.topoFixed(adjDir(s, d), 10)))
  private def ccComps(s: SparkSession, d: String): DataFrame =
    memo(s, d, "cc")(ConnectedComponents.run(adjSym(s, d)).components)

  // Shared building-block frames for the triangle-derived mining tier
  // (guide §2.4 — remove repeated passes): the symmetrized edge set, its
  // degree table, the degree orientation, the sorted out-lists and THE
  // triangle listing are each computed once per (session, dir) and
  // consumed by every query that needs them (triangles, tri_per_vertex,
  // kclique_4/5, sgl_diamond, motif_3/4, fsm3_tri, fsm3_path, ktruss_4,
  // kcore_8, mis_3, louvain_*, leiden_*, fsm_edge/wedge, graph
  // converters). Before round 6 the suite re-ran symmetrize ~15x and the
  // O(Σ outdeg²) triangle wedge-join FIVE times per bench pass. All
  // memos are per-JVM and recomputed from the parquet inputs on first
  // use — nothing persists across processes.
  // the base edge derivation itself (parquet scan + self-loop filter +
  // dropDuplicates exchange) re-ran in ~25 query lambdas — one
  // checkpointed copy serves them all
  private def edgesE(s: SparkSession, d: String): DataFrame =
    memo(s, d, "edges")(Materialize(TpchGraph.edges(s, d)))
  private def symE(s: SparkSession, d: String): DataFrame =
    memo(s, d, "syme")(Materialize(GraphOps.symmetrize(edgesE(s, d))))
  private def symDeg(s: SparkSession, d: String): DataFrame =
    memo(s, d, "symdeg")(Materialize(Triangles.symDegrees(symE(s, d))))
  private def orientedE(s: SparkSession, d: String): DataFrame =
    memo(s, d, "oriented")(
      Materialize(Triangles.orientFromSym(symE(s, d), symDeg(s, d))))
  private def olistE(s: SparkSession, d: String): DataFrame =
    memo(s, d, "olist")(Materialize(Mining.outLists(orientedE(s, d))))
  private def triListE(s: SparkSession, d: String): DataFrame =
    memo(s, d, "trilist")(
      // intersection form over the shared out-lists: the Σ outdeg⁺²
      // wedge stream of Triangles.listing never crosses an exchange.
      // One hash exchange on the triple before the checkpoint — NOT
      // for balance (the inherited layout is even, max/min 1.007 as
      // measured) but for TASK COUNT: the broadcast-joined
      // explode inherits the AQE-coalesced edge frame's 8 partitions,
      // so every consumer's first stage ran 8 tasks on 32 cores; the
      // old wedge join's exchange gave consumers full-width scans.
      // Probe minima: consumer pass 1.42-1.61 s at 32 parts vs
      // 1.70-1.98 s at 8, times ~5 consumer scans per suite.
      Triangles.listingFrom(orientedE(s, d), olistE(s, d))
        .repartition(col("a"), col("b"), col("c"))
        .transform(Materialize(_)))

  // Scalar memos for the heavy mining counts: triangles/motif_3/motif_4
  // share one triangle listing, kclique_4/motif_4 one candidate-set
  // cascade, sgl_cycle/sgl_diamond/motif_4 one wedge pass and one
  // edge-credit pass each (the r4 verdict flagged motif_3 re-counting
  // triangles as 14 s of duplicated suite work).
  private def triCount(s: SparkSession, d: String): Long =
    memo(s, d, "tri")(triListE(s, d).count())
  private def k4Count(s: SparkSession, d: String): Long =
    memo(s, d, "k4")(
      Mining.kcliqueCount(orientedE(s, d), 4, olistE(s, d)))
  private def c4Count(s: SparkSession, d: String): Long =
    memo(s, d, "c4")(Mining.cycle4Count(symE(s, d), symDeg(s, d)))
  private def diaCount(s: SparkSession, d: String): Long =
    memo(s, d, "dia")(Mining.diamondCount(triListE(s, d)))
  private def triPerV(s: SparkSession, d: String): DataFrame =
    memo(s, d, "tripv")(Materialize(Triangles.perVertex(triListE(s, d),
      GraphOps.vertices(edgesE(s, d)))))

  // Community-detection shared states: leiden_2x2/leiden_2level run the
  // SAME (move 2, refine 2) level-1 pipeline, louvain_2level the same
  // 2-round local move, and louvain_3 is that state plus one round —
  // one computation each per (session, dir).
  private def w1E(s: SparkSession, d: String): DataFrame =
    symE(s, d).select(col("src"), col("dst"), lit(1L).as("w"))
  private def louvComm2(s: SparkSession, d: String): DataFrame =
    memo(s, d, "louv2")(
      Materialize(Louvain.localMoveRoundsWeighted(w1E(s, d), 2)))
  private def leidenSubM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "leidsub")(
      Materialize(Leiden.refineWeighted(w1E(s, d), louvComm2(s, d), 2)))

  // dedup_minhash and dedup_survivors consume the same LSH pair set;
  // mc_sgd3_users and mc_sgd3_sse the same 3-round factor run.
  private def lshPairs(s: SparkSession, d: String): DataFrame =
    memo(s, d, "lsh84")(Materialize(Dedup.minhashLshPairs(docs(s, d),
      numHashes = 8, bands = 4, threshold = 0.5)))
  private def mcRun(s: SparkSession, d: String): (DataFrame, Seq[Long]) =
    memo(s, d, "mc3") {
      val (uf, _, sse) = MatrixCompletion.run(TpchGraph.ratings(s, d), 3)
      (Materialize(uf), sse)
    }

  /** A scratch directory for one file-format round trip of `d`'s edge
    * table: under the driver's SparkFiles root, which Spark creates for
    * each application and deletes at stop. The leaf starts with "d":
    * Hadoop's hidden-file filter rejects a path leaf starting with "_". */
  private def roundTripPath(d: String, fmt: String): String =
    s"${SparkFiles.getRootDirectory()}/graft-$fmt/d" +
      d.replaceAll("[^a-zA-Z0-9.]", "_")

  /** 1-in-8 deterministically hash-sampled edge fixture for the 5-motif
    * census (see the `motif_5` entry for why the full fixture is out of
    * the census's — and pangolin's — tractable regime at sf0.1). */
  private def motifGraph(s: SparkSession, d: String): DataFrame =
    edgesE(s, d).filter(
      (shiftright(col("src"), 3) + lit(131L) * shiftright(col("dst"), 3))
        % 8 === 0)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    rankN(PageRank.topoFixed(adjDir(spark, "/root/testdata/sf0.001"), 5))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 ingest / convert surface (gr2* tools)
    "graph_edges" -> ((s, d) => edgesE(s, d).orderBy("src", "dst")),
    "graph_symmetrize" -> ((s, d) => symE(s, d).orderBy("src", "dst")),
    // orientUpper(e) ≡ symmetrize(e).filter(src < dst) — ride the memo
    "graph_orient" -> ((s, d) =>
      symE(s, d).filter(col("src") < col("dst")).orderBy("src", "dst")),
    "graph_transpose" -> ((s, d) =>
      GraphOps.transpose(edgesE(s, d)).orderBy("src", "dst")),
    "graph_degrees" -> ((s, d) =>
      GraphOps.degrees(edgesE(s, d)).orderBy("id")),
    "graph_degree_hist" -> ((s, d) =>
      GraphOps.degreeHistogram(edgesE(s, d)).orderBy("outdeg")),
    "graph_indegree_hist" -> ((s, d) =>
      GraphOps.inDegreeHistogram(edgesE(s, d)).orderBy("indeg")),
    "graph_sparsity" -> ((s, d) =>
      GraphOps.sparsityPattern(edgesE(s, d), 8)
        .orderBy("row_block", "col_block")),
    // edgelist2gr / gr2edgelist round-trip: export the edge table as
    // headerless CSV, read it back through the typed ingest path; the
    // oracle (plain edge SQL) proves the round-trip is lossless.
    "graph_from_csv" -> ((s, d) => {
      val path = roundTripPath(d, "csv")
      graft.sources.EdgeListCsv.write(edgesE(s, d), path)
      graft.sources.EdgeListCsv.read(s, path).orderBy("src", "dst")
    }),
    // factor 1.2 (not 2.0): the TpchGraph degree distribution tightens
    // with sf, and 2.0 yields an EMPTY hub set at sf >= 0.01 — a green
    // row that verifies nothing. 1.2 is non-empty at every driver sf
    // (sf0.001: 611, sf0.01: 859, sf0.1: 14 rows).
    "graph_hubs" -> ((s, d) =>
      GraphOps.hubs(edgesE(s, d), 1.2).orderBy("id")),
    "graph_relabel" -> ((s, d) =>
      GraphOps.relabelByDegree(edgesE(s, d)).orderBy("id")),
    "graph_permute" -> ((s, d) =>
      GraphOps.permuteRandom(edgesE(s, d)).orderBy("id")),
    "graph_lowdegree" -> ((s, d) =>
      GraphOps.removeHighDegree(edgesE(s, d), 10)
        .orderBy("src", "dst")),
    // gr2mtx / mtx2gr round-trip through MatrixMarket text
    "graph_from_mtx" -> ((s, d) => {
      val path = roundTripPath(d, "mtx")
      graft.sources.EdgeListCsv.writeMtx(edgesE(s, d), path)
      graft.sources.EdgeListCsv.readMtx(s, path).orderBy("src", "dst")
    }),
    // BFS (SURVEY §2.6): 4 fixed rounds from source = min vertex id
    "bfs_4" -> ((s, d) => {
      val adj = adjDir(s, d)
      val src = adj.vertices.agg(min("id")).first().getLong(0)
      Bfs.run(adj, src, 4)._1.orderBy("id")
    }),
    // gr2sortedbfsgr: BFS-traversal-order relabel (20 rounds >> diameter
    // at driver scales, like the CC oracle's unroll)
    "graph_bfs_relabel" -> ((s, d) => {
      val adj = adjDir(s, d)
      val src = adj.vertices.agg(min("id")).first().getLong(0)
      Bfs.relabel(adj, src, 20).orderBy("id")
    }),
    // k-core peel over the symmetric graph (SURVEY §2.6), 10 fixed rounds
    "kcore_8" -> ((s, d) =>
      KCore.run(symE(s, d), 8, 10)._1.orderBy("id")),
    // deterministic Luby maximal-independent-set rounds (SURVEY §2.6)
    "mis_3" -> ((s, d) =>
      IndependentSet.run(symE(s, d), 3)._1.orderBy("id")),
    // k-truss support peel (SURVEY §2.6), 2 fixed rounds at trussNum 4,
    // sharing the suite's one orientation + triangle listing
    "ktruss_4" -> ((s, d) =>
      KTruss.run(orientedE(s, d), triListE(s, d), 4, 2)._1
        .orderBy("src", "dst")),
    // deterministic greedy maximal matching (SURVEY §2.6), 3 rounds
    "matching_3" -> ((s, d) =>
      Matching.runOriented(
        symE(s, d).filter(col("src") < col("dst")), 3)._1
        .orderBy("src", "dst")),
    // weighted SSSP / Bellman-Ford rounds (SURVEY §2.6), synthetic weights
    "sssp_4" -> ((s, d) => {
      val adj = adjDir(s, d)
      val src = adj.vertices.agg(min("id")).first().getLong(0)
      Sssp.fixedRounds(adj, src, 4).orderBy("id")
    }),
    // SSSP over REAL edge weights (the reference default: .gr edge
    // payloads, sssp/SSSP.cpp:58-84) — weighted blocked CSR whose blocks
    // carry (dsts, ws) parallel arrays
    "sssp_weighted4" -> ((s, d) => {
      val adj = adjWeighted(s, d)
      val src = adj.vertices.agg(min("id")).first().getLong(0)
      Sssp.fixedRounds(adj, src, 4).orderBy("id")
    }),
    // weighted-surface round trips: 3-field CSV, MatrixMarket `real`,
    // DIMACS `a src dst w` arcs, neo4j bulk-import CSVs — each written
    // then re-ingested; the oracle (plain weighted edge SQL) proves the
    // round trip lossless
    "graph_from_csv_w" -> ((s, d) => {
      val path = roundTripPath(d, "csvw")
      graft.sources.EdgeListCsv.writeWeighted(GraphOps.attachWeights(edgesE(s, d)), path)
      graft.sources.EdgeListCsv.readWeighted(s, path)
        .select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .orderBy("src", "dst")
    }),
    "graph_from_mtx_w" -> ((s, d) => {
      val path = roundTripPath(d, "mtxw")
      graft.sources.EdgeListCsv.writeMtxWeighted(GraphOps.attachWeights(edgesE(s, d)), path)
      graft.sources.EdgeListCsv.readMtxWeighted(s, path)
        .select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .orderBy("src", "dst")
    }),
    "graph_from_dimacs" -> ((s, d) => {
      val path = roundTripPath(d, "dimacs")
      graft.sources.TextFormats.writeDimacs(GraphOps.attachWeights(edgesE(s, d)), path)
      graft.sources.TextFormats.readDimacs(s, path).orderBy("src", "dst")
    }),
    "graph_to_neo4j" -> ((s, d) => {
      val path = roundTripPath(d, "neo4j")
      graft.sources.TextFormats.writeNeo4j(GraphOps.attachWeights(edgesE(s, d)), path)
      graft.sources.TextFormats.readNeo4jEdges(s, path).orderBy("src", "dst")
    }),
    // 1-indexed edge list (gr2edgelist1ind) and METIS (line-positional
    // vertex adjacency) round trips
    "graph_from_csv_1ind" -> ((s, d) => {
      val path = roundTripPath(d, "csv1")
      graft.sources.EdgeListCsv.write1Indexed(edgesE(s, d), path)
      graft.sources.EdgeListCsv.read1Indexed(s, path).orderBy("src", "dst")
    }),
    "graph_from_metis" -> ((s, d) => {
      val path = roundTripPath(d, "metis")
      graft.sources.TextFormats.writeMetis(symE(s, d), path)
      graft.sources.TextFormats.readMetis(s, path).orderBy("src", "dst")
    }),
    // positional token-stream converters: PBBS AdjacencyGraph round trip
    // and the svmlight bipartite example→feature ingest
    "graph_from_pbbs" -> ((s, d) => {
      val path = roundTripPath(d, "pbbs")
      graft.sources.TextFormats.writePbbs(edgesE(s, d), path)
      graft.sources.TextFormats.readPbbs(s, path).orderBy("src", "dst")
    }),
    "graph_from_svmlight" -> ((s, d) => {
      val path = roundTripPath(d, "svml")
      graft.sources.TextFormats
        .writeSvmlight(GraphOps.attachWeights(edgesE(s, d)), path)
      graft.sources.TextFormats.readSvmlight(s, path)
        .select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .orderBy("src", "dst")
    }),
    // unweighted text converters: node list / adjacency list round trips
    "graph_from_nodelist" -> ((s, d) => {
      val path = roundTripPath(d, "nodelist")
      graft.sources.TextFormats.writeNodelist(edgesE(s, d), path)
      graft.sources.TextFormats.readNodelist(s, path).orderBy("src", "dst")
    }),
    "graph_from_adjlist" -> ((s, d) => {
      val path = roundTripPath(d, "adjlist")
      graft.sources.TextFormats.writeAdjacencyList(edgesE(s, d), path)
      graft.sources.TextFormats.readAdjacencyList(s, path).orderBy("src", "dst")
    }),
    // Boruvka minimum-spanning-forest rounds (SURVEY §2.6) over the
    // weighted undirected fixture: 2 component-min-edge pick + contract
    // rounds, 12 pointer jumps per contraction (2^12 > any driver
    // component count, so contraction is complete)
    // weightedUndirected(e) ≡ attachWeights(orientUpper(e)) — ride the
    // symmetrize memo for the upper orientation
    "mst_2" -> ((s, d) =>
      Boruvka.run(
        GraphOps.attachWeights(symE(s, d).filter(col("src") < col("dst"))),
        2, 12)._1.orderBy("src", "dst")),
    // Brandes betweenness (SURVEY §2.6): 4 smallest ids as sources,
    // 6-level BFS horizon, bc scaled to int64 nano-units
    "betweenness_4x6" -> ((s, d) => {
      val adj = adjDir(s, d)
      val srcs = adj.vertices.orderBy("id").limit(4).collect()
        .map(_.getLong(0)).toSeq
      Betweenness.run(adj, srcs, maxLevels = 6)
        .select(col("id"),
          round(col("bc") * lit(1000000000L)).cast("long").as("bc_n"))
        .orderBy("id")
    }),
    // SOURCE-SAMPLED betweenness — the full-graph scale path (per-source
    // cost is a whole BFS; at 10^9 vertices you estimate from a sample):
    // sources = the 8 vertices with the smallest engine-neutral hash,
    // deterministic and SQL-replicable
    "betweenness_sampled8x6" -> ((s, d) => {
      val adj = adjDir(s, d)
      val h = (col("id") % lit(1000003L)) * lit(2654435761L) + col("id")
      val srcs = adj.vertices
        .orderBy(pmod(h, lit(4294967296L)).asc, col("id").asc)
        .limit(8).collect().map(_.getLong(0)).toSeq
      Betweenness.run(adj, srcs, maxLevels = 6)
        .select(col("id"),
          round(col("bc") * lit(1000000000L)).cast("long").as("bc_n"))
        .orderBy("id")
    }),

    // §2.2 PageRank (pull-topo kernel, 10 fixed supersteps for the oracle)
    "pagerank" -> ((s, d) => ranks10(s, d).orderBy("id")),
    "pagerank_top20" -> ((s, d) =>
      ranks10(s, d).orderBy(col("rank_n").desc, col("id").asc).limit(20)),
    // push-sync residual variant (the north star's named formulation),
    // 5 fixed rounds with frontier = residual > 0
    "pagerank_push5" -> ((s, d) =>
      rankN(PageRank.runPush(adjDir(s, d), tol = 0.0, maxIter = 5).ranks)
        .orderBy("id")),
    // pull-residual — the reference DEFAULT (-algo=Residual), 5 fixed
    // rounds with frontier = residual > 0
    "pagerank_residual5" -> ((s, d) =>
      rankN(PageRank.residualFixed(adjDir(s, d), 5)).orderBy("id")),
    // sanity aggregates (PageRank-pull.cpp:354-379) over the 10-round ranks
    "pagerank_sanity" -> ((s, d) =>
      ranks10(s, d).agg(max("rank_n").as("max_rank_n"),
        min("rank_n").as("min_rank_n"),
        sum("rank_n").cast("long").as("sum_rank_n"))),
    "graph_stats" -> ((s, d) => {
      // two driver actions instead of four: (nV, nE) from one pass over
      // the exploded endpoints (2E rows, so nE = rows/2), and
      // (maxD, argmin id) as one struct-max aggregate (max degree, then
      // min vertex via the negated id — same values as the former
      // max-then-filter-min pair of jobs)
      val e = edgesE(s, d)
      val r1 = e.select(explode(array(col("src"), col("dst"))).as("id"))
        .agg(countDistinct(col("id")), count(lit(1))).first()
      val (nv, ne) = (r1.getLong(0), r1.getLong(1) / 2)
      val st = e.groupBy("src").agg(count(lit(1)).as("d"))
        .agg(max(struct(col("d"), (-col("src")).as("ns")))).first()
        .getStruct(0)
      import s.implicits._
      Seq((nv, ne, st.getLong(0), -st.getLong(1)))
        .toDF("n_vertices", "n_edges", "max_outdeg", "max_outdeg_vertex")
    }),

    // §2.3 connected components (min-label to fixpoint; oracle unrolls 20)
    "cc" -> ((s, d) => ccComps(s, d).orderBy("id")),
    "cc_sizes" -> ((s, d) =>
      ConnectedComponents.componentSizes(ccComps(s, d)).orderBy("comp")),

    // Louvain-style local-move clustering over the symmetric graph
    // (stretch surface; reference clustering/louvainClustering.cpp):
    // 3 synchronous integer-gain rounds with the merge-down rule
    // louvain_3 = one more synchronous round on top of the suite-shared
    // round-2 state (identical by construction: moveRounds is a fold
    // over rounds, and round 3 keeps its odd parity via startRound)
    "louvain_3" -> ((s, d) =>
      Louvain.moveRounds(w1E(s, d), w1E(s, d), 3,
        louvComm2(s, d).withColumnRenamed("community", "c"),
        startRound = 3).orderBy("id")),
    // full multi-level shape: 2 local-move rounds, aggregate into the
    // weighted community graph, 2 rounds there, project back — the
    // level-1 state is the shared round-2 memo
    "louvain_2level" -> ((s, d) =>
      Louvain.twoLevel(w1E(s, d), louvComm2(s, d), 2).orderBy("id")),
    // Leiden (leidenClustering.cpp): local-move + singleton-restart
    // refinement constrained to intra-community edges, and — in the
    // 2-level form — aggregation on the REFINED partition seeded from
    // the parent communities. leiden_2x2 IS the shared (move 2, refine
    // 2) state; leiden_2level adds only the coarse level on top.
    "leiden_2x2" -> ((s, d) => leidenSubM(s, d).orderBy("id")),
    "leiden_2level" -> ((s, d) =>
      Leiden.twoLevel(w1E(s, d), louvComm2(s, d), leidenSubM(s, d), 2)
        .orderBy("id")),

    // §2.4 label propagation (directed, fixed rounds)
    "lpa_min4" -> ((s, d) =>
      LabelPropagation.runMin(adjDir(s, d), 4).orderBy("id")),
    "lpa_mode2" -> ((s, d) =>
      LabelPropagation.runMode(adjDir(s, d), 2).orderBy("id")),

    // §2.5 triangle counting (degree-ordered orientation, merge-
    // intersected out-lists)
    "triangles" -> ((s, d) => {
      import s.implicits._
      Seq(triCount(s, d)).toDF("triangles")
    }),
    "tri_per_vertex" -> ((s, d) => triPerV(s, d).orderBy("id")),
    // §2.6 mining: k-clique listing counts (kcl.cpp) and the 3/4-vertex
    // connected-motif censuses (motif.cpp) over the oriented edge set
    "kclique_4" -> ((s, d) => {
      import s.implicits._
      Seq(k4Count(s, d)).toDF("cliques")
    }),
    "kclique_5" -> ((s, d) => {
      import s.implicits._
      Seq(Mining.kcliqueCount(orientedE(s, d), 5, olistE(s, d)))
        .toDF("cliques")
    }),
    "motif_3" -> ((s, d) =>
      Mining.motif3(symDeg(s, d), triCount(s, d))),
    "motif_4" -> ((s, d) => {
      // in suite order kclique_4/motif_3 have already filled the k4/tri
      // memos, so motif_4's real cost is the two INDEPENDENT sgl memo
      // jobs (4-cycles, diamonds) — overlap exactly that pair (37s →
      // ~max of the two). Wider concurrency is counterproductive: four
      // cold full-width jobs measured 94s vs 47s sequential.
      val (t, k4) = (triCount(s, d), k4Count(s, d))
      val (c4, dia) = Par.both(c4Count(s, d), diaCount(s, d))
      Mining.motif4(symE(s, d), symDeg(s, d), t, k4, c4, dia,
        triPerV(s, d))
    }),
    // fsm.cpp at arbitrary pattern size (pangolin edge_miner): the BFS
    // edge-extension enumerator at k=4 edges over a 1-in-64 sampled
    // fixture — embedding enumeration is Θ(Σ d^(k−1)) (pangolin's own
    // cost class), so the driver fixture keeps the frontier bounded;
    // the exact-MNI closed forms stay the k ≤ 3 web-scale path.
    // Rows-only driver check (a frequent-pattern count is not one SQL
    // query); correctness is spec'd against brute-force exact-MNI and
    // the closed-form tiers (FsmEnumerateSpec).
    "fsm_enum4_s4" -> ((s, d) => FsmEnumerate.levelCounts(
      edgesE(s, d).filter(
        (shiftright(col("src"), 3) + lit(131L) * shiftright(col("dst"), 3))
          % 64 === 0), maxEdges = 4, minSupport = 4)),
    // motif.cpp's largest size (k=5, 21 patterns) over a 1-in-8
    // hash-sampled fixture: the full sf0.1 fixture is 45%-dense inside
    // its 500-vertex classes (15.2M triangles, 172M 4-cliques), where
    // ANY exact 5-census — pangolin's embedding enumeration included —
    // is a multi-minute Σt_e²-class job; the sample keeps the driver
    // fixture in the sparse regime the census (and the reference's
    // mining tier) targets. The filter mixes slot bits (id >> 3):
    // both endpoints share id % 8 by construction, so arithmetic on
    // raw ids mod k is a per-class constant and would drop whole
    // classes instead of sampling edges.
    "motif_5" -> ((s, d) => Motif5.census(motifGraph(s, d))),
    // §2.6 subgraph listing (sgl_cycle.cpp / sgl_diamond.cpp):
    // edge-induced 4-cycle and diamond counts
    "sgl_cycle" -> ((s, d) => {
      import s.implicits._
      Seq(c4Count(s, d)).toDF("cycles")
    }),
    "sgl_diamond" -> ((s, d) => {
      import s.implicits._
      Seq(diaCount(s, d)).toDF("diamonds")
    }),
    // §2.6 FSM (fsm.cpp, pangolin edge_miner): exact-MNI frequent edge
    // and wedge patterns over id%4 vertex labels — domains by O(E)
    // aggregates, no embedding enumeration
    "fsm_edge_s50" -> ((s, d) =>
      Mining.fsmEdge(symE(s, d), 50L).orderBy("l1", "l2")),
    "fsm_wedge_s50" -> ((s, d) =>
      Mining.fsmWedge(symE(s, d), 50L)
        .orderBy("lc", "l1", "l2")),
    // FSM 3-edge tier (fsm.cpp -k=3): triangle and path patterns over
    // (id/8)%4 labels (id%4 is monochromatic along every fixture edge —
    // see Mining.lab3) — exact MNI, still zero embedding enumeration
    "fsm3_tri_s50" -> ((s, d) =>
      Mining.fsm3Triangle(triListE(s, d), 50L)
        .orderBy("l1", "l2", "l3")),
    "fsm3_path_s50" -> ((s, d) =>
      Mining.fsm3Path(symE(s, d), triListE(s, d), 50L)
        .orderBy("l1", "l2", "l3", "l4")),
    // §2.6 matrix completion (matrixCompletion.cpp): alternating
    // full-batch fixed-point gradient rounds over the bipartite
    // customer×part ratings table — factors + the SSE convergence trace
    "mc_sgd3_users" -> ((s, d) =>
      mcRun(s, d)._1.withColumnRenamed("id", "u").orderBy("u")),
    "mc_sgd3_sse" -> ((s, d) => {
      import s.implicits._
      mcRun(s, d)._2.zipWithIndex
        .map { case (sse, t) => (t.toLong + 1L, sse) }
        .toDF("round", "sse")
    }),
    // §2.6 max-flow (Preflowpush.cpp) as lock-step push-relabel
    // supersteps; s = min vertex, t = max vertex of s's mod-8 class
    "preflow_8" -> ((s, d) => {
      val we = GraphOps.attachWeights(edgesE(s, d)).select(col("src").as("u"),
        col("dst").as("v"), col("w").as("cap"))
      val vs = we.select(col("u").as("id"))
        .unionAll(we.select(col("v").as("id"))).distinct()
      val sMin = vs.agg(min("id")).first().getLong(0)
      val tMax = vs.filter(col("id") % 8 === sMin % 8)
        .agg(max("id")).first().getLong(0)
      PreflowPush.run(we, sMin, tMax, 8)._1.orderBy("id")
    }),
    // §2.6 Andersen points-to (PointsTo.cpp) as semi-naive Datalog
    // rounds over the constraint split of the edge table
    // §2.6 deterministic multilevel bisection (bipart/ + gmetis/):
    // matching-contraction coarsening, balanced prefix split, projected
    // gain refinement
    "bipart_2" -> ((s, d) =>
      Bipart.bisectUpper(symE(s, d).filter(col("src") < col("dst")),
        coarsenLevels = 1, matchRounds = 2, refineRounds = 2)
        .orderBy("id")),
    // GMetis k-way analog: simultaneous recursive bisection, every part
    // split at once with per-part windows/slacks
    "kway_4" -> ((s, d) =>
      Bipart.kwayUpper(symE(s, d).filter(col("src") < col("dst")),
        depth = 2, matchRounds = 2, refineRounds = 2).orderBy("id")),
    "pta_sizes6" -> ((s, d) => {
      val (a, c, l, st) = TpchGraph.ptaConstraints(s, d)
      PointsTo.sizes(PointsTo.run(a, c, l, st, 6)._1)
        .withColumnRenamed("var", "id").orderBy("id")
    }),

    // training-data pipeline: text analysis
    "text_tokens" -> ((s, d) =>
      TextAnalysis.tokenCounts(docs(s, d)).orderBy("doc_id")),
    "text_quality" -> ((s, d) =>
      TextAnalysis.quality(docs(s, d)).orderBy("doc_id")),
    "text_langid" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy("doc_id")),
    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(docs(s, d)).orderBy("doc_id")),

    // training-data pipeline: deduplication
    "dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d)).orderBy("keep_id")),
    "dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), 0.5).orderBy("a", "b")),
    "dedup_minhash" -> ((s, d) => lshPairs(s, d).orderBy("a", "b")),
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d), 3).orderBy("a", "b")),
    // the dedup pipeline's actual OUTPUT: near-dup pairs collapsed into
    // survivor groups (min-label components over the pair graph)
    "dedup_survivors" -> ((s, d) =>
      Dedup.survivorsFixed(docs(s, d), lshPairs(s, d), 8)
        .orderBy("doc_id")),

    // training-data pipeline: similarity search. The quadratic
    // crossJoin near-dup (Dedup.embeddingNearDup) is TEST-ORACLE-ONLY:
    // the driver queries ride the bucketed LSH paths, which are the
    // shapes that survive 100 TB.
    "emb_topk" -> ((s, d) =>
      Similarity.bruteTopK(emb(s, d), col("vec_id") < 10, 5)
        .orderBy("query_id", "rank")),
    "emb_lsh_neardup" -> ((s, d) =>
      Similarity.lshNearDup(emb(s, d), 0.3, bits = 8).orderBy("a", "b")),
    "ann_topk" -> ((s, d) =>
      Similarity.annTopK(emb(s, d), col("vec_id") < 10, k = 5, bits = 4,
        tables = 4, index = Some(annIndex(s, d)))
        .orderBy("query_id", "rank")),

    // events: tumbling-window aggregation (batch form)
    "events_window" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      ev.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(lit(10000.0) * sum(col("value"))).cast("long")
            .as("sum_value_i4"))
        .orderBy("hour", "event_type")
    }),

    // multimodal: REAL PNG decode (ImageIO) over synthesized media whose
    // dimensions are deterministic in doc_id — the oracle predicts them
    // from doc_id, the engine must recover them from the encoded bytes.
    // n_bytes is codec-dependent, hence not part of the oracled columns.
    "multimodal_meta" -> ((s, d) =>
      Multimodal.extractMeta(Multimodal.synthesizeImages(docs(s, d)))
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"))
        .orderBy("doc_id")),
    "multimodal_frames" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.synthesizeVideos(docs(s, d)), 2)
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy("doc_id", "frame_no")),

    // gap-based sessionization (batch form of the streaming operator);
    // session bounds as epoch millis so the cross-engine compare is
    // timestamp-type-proof
    "stream_sessions" -> ((s, d) =>
      graft.streaming.EventStream
        .sessionize(s.read.parquet(s"$d/events.parquet"))
        .toDF()
        .select(col("user_id"),
          unix_millis(col("session_start")).as("session_start_ms"),
          unix_millis(col("session_end")).as("session_end_ms"),
          col("n_events").cast("long").as("n_events"),
          round(lit(10000.0) * col("sum_value")).cast("long")
            .as("sum_value_i4"))
        .orderBy("user_id", "session_start_ms")),
  )

  // The ANN corpus bucket index is query-independent: built once per
  // (session, dir) and materialized, so ann_topk pays for it inside its
  // own query and nothing outlives the process.
  private def annIndex(s: SparkSession, d: String): DataFrame =
    memo(s, d, "annidx")(
      Materialize(Similarity.lshBucketsMulti(emb(s, d), bits = 4, tables = 4)))

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
  private def emb(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/embeddings.parquet")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "graph_edges" -> Oracles.graphEdges,
    "graph_symmetrize" -> Oracles.graphSymmetrize,
    "graph_orient" -> Oracles.graphOrient,
    "graph_transpose" -> Oracles.graphTranspose,
    "graph_degrees" -> Oracles.graphDegrees,
    "graph_degree_hist" -> Oracles.graphDegreeHist,
    "graph_indegree_hist" -> Oracles.graphInDegreeHist,
    "graph_sparsity" -> Oracles.graphSparsity(8),
    "graph_from_csv" -> Oracles.graphEdges,
    "graph_hubs" -> Oracles.graphHubs(1.2),
    "graph_relabel" -> Oracles.graphRelabel,
    "graph_permute" -> Oracles.graphPermute,
    "graph_lowdegree" -> Oracles.graphLowDegree(10),
    "graph_from_mtx" -> Oracles.graphEdges,
    "bfs_4" -> Oracles.bfs(4),
    "graph_bfs_relabel" -> Oracles.bfsRelabel(20),
    "kcore_8" -> Oracles.kcore(8, 10),
    "mis_3" -> Oracles.independentSet(3),
    "ktruss_4" -> Oracles.ktruss(4, 2),
    "matching_3" -> Oracles.matching(3),
    "sssp_4" -> Oracles.sssp(4),
    "sssp_weighted4" -> Oracles.ssspWeighted(4),
    "graph_from_csv_w" -> Oracles.graphWeightedEdges,
    "graph_from_mtx_w" -> Oracles.graphWeightedEdges,
    "graph_from_dimacs" -> Oracles.graphWeightedEdges,
    "graph_to_neo4j" -> Oracles.graphWeightedEdges,
    "graph_from_nodelist" -> Oracles.graphEdges,
    "graph_from_pbbs" -> Oracles.graphEdges,
    "graph_from_csv_1ind" -> Oracles.graphEdges,
    "graph_from_metis" -> Oracles.graphSymmetrize,
    "graph_from_svmlight" -> Oracles.graphSvmlight,
    "graph_from_adjlist" -> Oracles.graphEdges,
    "betweenness_4x6" -> Oracles.betweenness(4, 6),
    "betweenness_sampled8x6" -> Oracles.betweennessSampled(8, 6),
    "mst_2" -> Oracles.mst(2, 12),
    "pagerank" -> Oracles.pagerank(10),
    "pagerank_top20" -> Oracles.pagerankTop20(10),
    "pagerank_push5" -> Oracles.pagerankPush(5),
    "pagerank_residual5" -> Oracles.pagerankResidual(5),
    "pagerank_sanity" -> Oracles.pagerankSanity(10),
    "graph_stats" -> Oracles.graphStats,
    "cc" -> Oracles.cc(20),
    "cc_sizes" -> Oracles.ccSizes(20),
    "louvain_3" -> Oracles.louvain(3),
    "louvain_2level" -> Oracles.louvainTwoLevel(2, 2),
    "leiden_2x2" -> Oracles.leidenRefine(2, 2),
    "leiden_2level" -> Oracles.leidenTwoLevel(2, 2, 2),
    "mc_sgd3_users" -> Oracles.mcUserFactors(3),
    "mc_sgd3_sse" -> Oracles.mcSseTrace(3),
    "pta_sizes6" -> Oracles.ptaSizes(6),
    "bipart_2" -> Oracles.bipart(2, 2),
    "kway_4" -> Oracles.kway(2, 2, 2),
    "preflow_8" -> Oracles.preflow(8),
    "lpa_min4" -> Oracles.lpaMin(4),
    "lpa_mode2" -> Oracles.lpaMode(2),
    "triangles" -> Oracles.triangles,
    "tri_per_vertex" -> Oracles.trianglesPerVertex,
    "kclique_4" -> Oracles.kclique(4),
    "kclique_5" -> Oracles.kclique(5),
    "motif_3" -> Oracles.motif3,
    "motif_4" -> Oracles.motif4,
    "motif_5" -> Oracles.motif5,
    "sgl_cycle" -> Oracles.sglCycle,
    "sgl_diamond" -> Oracles.sglDiamond,
    "fsm_edge_s50" -> Oracles.fsmEdge(50),
    "fsm_wedge_s50" -> Oracles.fsmWedge(50),
    "fsm3_tri_s50" -> Oracles.fsm3Tri(50),
    "fsm3_path_s50" -> Oracles.fsm3Path(50),
    "text_tokens" -> PipelineOracles.textTokens,
    "text_quality" -> PipelineOracles.textQuality,
    "text_langid" -> PipelineOracles.textLangId,
    "text_fingerprint" -> PipelineOracles.textFingerprint,
    "dedup_exact" -> PipelineOracles.dedupExact,
    "dedup_ngram" -> PipelineOracles.dedupNgram(5000),
    "dedup_minhash" -> PipelineOracles.dedupMinhash(5000),
    "dedup_simhash" -> PipelineOracles.dedupSimhash(3),
    "dedup_survivors" -> PipelineOracles.dedupSurvivors(5000, 8),
    "emb_topk" -> PipelineOracles.embTopK(5, 10),
    "emb_lsh_neardup" -> PipelineOracles.embLshNearDup(3000, bits = 8),
    "ann_topk" -> PipelineOracles.embAnnTopK(5, 10, bits = 4, tables = 4),
    "events_window" -> PipelineOracles.eventsWindow,
    "multimodal_meta" -> PipelineOracles.multimodalMeta,
    "multimodal_frames" -> PipelineOracles.multimodalFrames,
    "stream_sessions" -> PipelineOracles.streamSessions(30),
  )
}
