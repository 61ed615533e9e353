package graft

import graft.sources.TpchGraph

/**
 * ANSI-SQL (DuckDB-runnable) oracles for the graph queries. Iterative
 * kernels (PageRank / CC / LPA) are unrolled to a fixed superstep count as
 * chained CTEs — both the Spark query and the oracle run EXACTLY k rounds,
 * so results match independently of convergence behavior. Float outputs are
 * emitted as `CAST(ROUND(value * 1e9) AS BIGINT)` on both sides so the
 * driver's hash compare sees identical int64s (double associativity across
 * partitionings only perturbs ~1e-15 relative, far below the rounding
 * grain).
 */
object Oracles {

  private val E = TpchGraph.edgesSql
  private val S = TpchGraph.symEdgesSql

  private def verts(edges: String): String =
    s"""SELECT id FROM (SELECT src AS id FROM edges
       | UNION SELECT dst AS id FROM edges) AS vv""".stripMargin

  val graphEdges: String =
    s"SELECT src, dst FROM ($E) AS e ORDER BY src, dst"

  val graphSymmetrize: String =
    s"SELECT src, dst FROM ($S) AS e ORDER BY src, dst"

  val graphOrient: String =
    s"SELECT src, dst FROM ($S) AS e WHERE src < dst ORDER BY src, dst"

  val graphDegrees: String =
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")})
       |SELECT v.id,
       |       CAST(COALESCE(o.c, 0) AS BIGINT) AS outdeg,
       |       CAST(COALESCE(i.c, 0) AS BIGINT) AS indeg
       |FROM v
       |LEFT JOIN (SELECT src AS id, COUNT(*) AS c FROM edges GROUP BY src) o ON v.id = o.id
       |LEFT JOIN (SELECT dst AS id, COUNT(*) AS c FROM edges GROUP BY dst) i ON v.id = i.id
       |ORDER BY v.id""".stripMargin

  val graphDegreeHist: String =
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |deg AS (SELECT v.id, CAST(COALESCE(o.c, 0) AS BIGINT) AS outdeg
       |        FROM v LEFT JOIN (SELECT src AS id, COUNT(*) AS c FROM edges GROUP BY src) o
       |        ON v.id = o.id)
       |SELECT outdeg, CAST(COUNT(*) AS BIGINT) AS n_vertices
       |FROM deg GROUP BY outdeg ORDER BY outdeg""".stripMargin

  val graphTranspose: String =
    s"SELECT dst AS src, src AS dst FROM ($E) AS e ORDER BY src, dst"

  val graphInDegreeHist: String =
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |deg AS (SELECT v.id, CAST(COALESCE(i.c, 0) AS BIGINT) AS indeg
       |        FROM v LEFT JOIN (SELECT dst AS id, COUNT(*) AS c FROM edges GROUP BY dst) i
       |        ON v.id = i.id)
       |SELECT indeg, CAST(COUNT(*) AS BIGINT) AS n_vertices
       |FROM deg GROUP BY indeg ORDER BY indeg""".stripMargin

  /** blocks×blocks sparsity grid over the dense id extent. */
  def graphSparsity(blocks: Int = 8): String =
    s"""WITH edges AS MATERIALIZED ($E),
       |bs AS (SELECT (MAX(GREATEST(src, dst)) + 1 + ${blocks - 1}) // $blocks AS b FROM edges)
       |SELECT src // (SELECT b FROM bs) AS row_block,
       |       dst // (SELECT b FROM bs) AS col_block,
       |       CAST(COUNT(*) AS BIGINT) AS n_edges
       |FROM edges GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Hubs at `factor`× mean out-degree. The factor is written as the same
    * double literal the engine multiplies with, and the threshold is
    * factor * AVG (one double multiply) on both sides. */
  def graphHubs(factor: Double): String =
    s"""WITH edges AS MATERIALIZED ($E),
       |deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src)
       |SELECT id, outdeg FROM deg
       |WHERE outdeg >= $factor * (SELECT AVG(outdeg) FROM deg)
       |ORDER BY id""".stripMargin

  val graphRelabel: String =
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |deg AS (SELECT v.id,
       |          CAST(COALESCE(o.c, 0) + COALESCE(i.c, 0) AS BIGINT) AS d
       |        FROM v
       |        LEFT JOIN (SELECT src AS id, COUNT(*) AS c FROM edges GROUP BY src) o ON v.id = o.id
       |        LEFT JOIN (SELECT dst AS id, COUNT(*) AS c FROM edges GROUP BY dst) i ON v.id = i.id)
       |SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY d DESC, id ASC) - 1 AS BIGINT) AS new_id
       |FROM deg ORDER BY id""".stripMargin

  /** k unrolled pull-topo PageRank iterations; ranks as round(v*1e9). */
  def pagerank(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT v.id, bs.b + 0.85 * COALESCE(c.s, 0.0) AS value
         |  FROM v CROSS JOIN bs
         |  LEFT JOIN (
         |    SELECT e.dst AS id, SUM(s.value / d.outdeg) AS s
         |    FROM edges e
         |    JOIN s${i - 1} s ON e.src = s.id
         |    JOIN deg d ON e.src = d.id
         |    GROUP BY e.dst) c ON v.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
       |nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),
       |bs AS (SELECT (1.0 - 0.85) / n AS b FROM nv),
       |s0 AS MATERIALIZED (SELECT id, (SELECT 1.0 / n FROM nv) AS value FROM v),
       |$iters
       |SELECT id, CAST(ROUND(value * 1000000000) AS BIGINT) AS rank_n
       |FROM s$k ORDER BY id""".stripMargin
  }

  /** k unrolled push-sync rounds (PageRank-push.cpp:103-190): value starts
    * 0, residual starts (1.0 - 0.85) — written EXACTLY so both engines
    * compute the same double; active = residual > 0 contributes
    * (residual*0.85)/outdeg to each out-neighbor's residual. */
  def pagerankPush(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT p.id,
         |    p.value + CASE WHEN p.residual > 0 THEN p.residual ELSE 0.0 END AS value,
         |    (CASE WHEN p.residual > 0 THEN 0.0 ELSE p.residual END)
         |      + COALESCE(d.dsum, 0.0) AS residual
         |  FROM s${i - 1} p
         |  LEFT JOIN (
         |    SELECT e.dst AS id, SUM((s.residual * 0.85) / dg.outdeg) AS dsum
         |    FROM edges e
         |    JOIN s${i - 1} s ON e.src = s.id AND s.residual > 0
         |    JOIN deg dg ON e.src = dg.id
         |    GROUP BY e.dst) d ON p.id = d.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
       |s0 AS MATERIALIZED (SELECT id, 0.0 AS value, (1.0 - 0.85) AS residual FROM v),
       |$iters
       |SELECT id, CAST(ROUND(value * 1000000000) AS BIGINT) AS rank_n
       |FROM s$k ORDER BY id""".stripMargin
  }

  /** k unrolled pull-residual rounds (PageRank-pull.cpp:137-195, the
    * reference default `-algo=Residual`) at tolerance 0: value starts 0,
    * residual starts (1.0 - 0.85); an active vertex (residual > 0)
    * flushes value += residual and scatters (residual*0.85)/outdeg; a
    * POSITIVE delta sum OVERWRITES the residual, otherwise an inactive
    * vertex keeps its old one. Written so every double op matches the
    * engine bit-for-bit. */
  def pagerankResidual(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT p.id,
         |    p.value + CASE WHEN p.residual > 0 THEN p.residual ELSE 0.0 END AS value,
         |    CASE WHEN d.dsum > 0 THEN d.dsum
         |      ELSE CASE WHEN p.residual > 0 THEN 0.0 ELSE p.residual END
         |    END AS residual
         |  FROM s${i - 1} p
         |  LEFT JOIN (
         |    SELECT e.dst AS id, SUM((s.residual * 0.85) / dg.outdeg) AS dsum
         |    FROM edges e
         |    JOIN s${i - 1} s ON e.src = s.id AND s.residual > 0
         |    JOIN deg dg ON e.src = dg.id
         |    GROUP BY e.dst) d ON p.id = d.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
       |s0 AS MATERIALIZED (SELECT id, 0.0 AS value, (1.0 - 0.85) AS residual FROM v),
       |$iters
       |SELECT id, CAST(ROUND(value * 1000000000) AS BIGINT) AS rank_n
       |FROM s$k ORDER BY id""".stripMargin
  }

  /** Deterministic hash permutation (engine's gr2randgr analog): rank of
    * (h(id), id) with h the same integer polynomial as the engine. */
  val graphPermute: String =
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")})
       |SELECT id, CAST(ROW_NUMBER() OVER (
       |  ORDER BY ((id % 1000003) * 2654435761 + id) % 4294967296 ASC, id ASC)
       |  - 1 AS BIGINT) AS new_id
       |FROM v ORDER BY id""".stripMargin

  /** RemoveHighDegree: edges whose endpoints both have outdeg ≤ maxDeg. */
  def graphLowDegree(maxDeg: Long): String =
    s"""WITH edges AS MATERIALIZED ($E),
       |high AS MATERIALIZED (
       |  SELECT src AS id FROM edges GROUP BY src HAVING COUNT(*) > $maxDeg)
       |SELECT src, dst FROM edges
       |WHERE src NOT IN (SELECT id FROM high)
       |  AND dst NOT IN (SELECT id FROM high)
       |ORDER BY src, dst""".stripMargin

  /** k unrolled BFS rounds from source = min vertex id: reached vertices
    * only (no infinity sentinel), hop distances. */
  def bfs(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT id, MIN(dist) AS dist FROM (
         |    SELECT id, dist FROM s${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, s.dist + 1 AS dist
         |    FROM edges e JOIN s${i - 1} s ON e.src = s.id
         |  ) u GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |s0 AS MATERIALIZED (SELECT MIN(id) AS id, CAST(0 AS BIGINT) AS dist FROM v),
       |$iters
       |SELECT id, CAST(dist AS BIGINT) AS dist FROM s$k ORDER BY id""".stripMargin
  }

  /** BFS-order relabel: rank by (hop distance from min-id source,
    * id), unreached last. k must cover the reachable diameter (like the
    * CC oracle's fixed unroll). */
  def bfsRelabel(k: Int): String =
    s"""WITH b AS MATERIALIZED (${bfs(k)}),
       |edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")})
       |SELECT v.id, CAST(ROW_NUMBER() OVER (
       |  ORDER BY COALESCE(b.dist, 9223372036854775807) ASC, v.id ASC)
       |  - 1 AS BIGINT) AS new_id
       |FROM v LEFT JOIN b ON v.id = b.id
       |ORDER BY v.id""".stripMargin

  /** `rounds` unrolled k-core peel rounds over the symmetric graph:
    * surviving (id, deg in surviving subgraph). */
  def kcore(k: Int, rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT src AS id FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON e.src = a.id
         |  JOIN k$i b ON e.dst = b.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED ($S),
       |$iters
       |SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
       |FROM e$rounds GROUP BY src ORDER BY id""".stripMargin
  }

  /** k unrolled Bellman-Ford rounds from source = min vertex id, with the
    * synthetic weight 1 + (src + dst) mod 9 (the edge table carries no
    * weights; the engine uses the identical integer expression). */
  def sssp(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT id, MIN(dist) AS dist FROM (
         |    SELECT id, dist FROM s${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, s.dist + (1 + (e.src + e.dst) % 9) AS dist
         |    FROM edges e JOIN s${i - 1} s ON e.src = s.id
         |  ) u GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |s0 AS MATERIALIZED (SELECT MIN(id) AS id, CAST(0 AS BIGINT) AS dist FROM v),
       |$iters
       |SELECT id, CAST(dist AS BIGINT) AS dist FROM s$k ORDER BY id""".stripMargin
  }

  private val W = TpchGraph.weightedEdgesSql

  /** Weighted edge table (the weighted-surface round-trip queries). */
  val graphWeightedEdges: String =
    s"SELECT src, dst, w FROM ($W) AS e ORDER BY src, dst"

  /** The svmlight bipartite mapping (svmlight2gr,
    * graph-convert.cpp:2795-2900): example ids = line numbers (= rank of
    * src in the exported file), features shifted by the example count. */
  val graphSvmlight: String =
    s"""WITH w AS MATERIALIZED ($W),
       |ex AS MATERIALIZED (
       |  SELECT src, CAST(ROW_NUMBER() OVER (ORDER BY src) - 1 AS BIGINT) AS ex_id
       |  FROM (SELECT DISTINCT src FROM w) s),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM ex)
       |SELECT ex.ex_id AS src,
       |       CAST((SELECT c FROM n) + w.dst AS BIGINT) AS dst, w.w
       |FROM w JOIN ex ON w.src = ex.src
       |ORDER BY src, dst""".stripMargin

  /** k unrolled Bellman-Ford rounds over REAL edge weights (the weighted
    * fixture's deterministic 1 + (src*7 + dst*13) % 97). */
  def ssspWeighted(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT id, MIN(dist) AS dist FROM (
         |    SELECT id, dist FROM s${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, s.dist + e.w AS dist
         |    FROM edges e JOIN s${i - 1} s ON e.src = s.id
         |  ) u GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($W),
       |v AS MATERIALIZED (${verts("edges")}),
       |s0 AS MATERIALIZED (SELECT MIN(id) AS id, CAST(0 AS BIGINT) AS dist FROM v),
       |$iters
       |SELECT id, CAST(dist AS BIGINT) AS dist FROM s$k ORDER BY id""".stripMargin
  }

  private val WU = TpchGraph.weightedUndirectedSql

  /** `rounds` unrolled Boruvka rounds over the weighted undirected
    * fixture, each with `jumps` unrolled pointer jumps (mirrors
    * graft.operators.Boruvka.run step for step): the spanning
    * forest edges picked so far. */
  def mst(rounds: Int, jumps: Int = 12): String = {
    val perRound = (1 to rounds).map { i =>
      val jumpCtes = (1 to jumps).map { j =>
        s"""p${i}_$j AS MATERIALIZED (
           |  SELECT x.c, y.p FROM p${i}_${j - 1} x
           |  JOIN p${i}_${j - 1} y ON x.p = y.c)""".stripMargin
      }.mkString(",\n")
      s"""x$i AS MATERIALIZED (
         |  SELECT e.src, e.dst, e.w, a.comp AS cs, b.comp AS cd
         |  FROM e${i - 1} e
         |  JOIN c${i - 1} a ON e.src = a.id
         |  JOIN c${i - 1} b ON e.dst = b.id
         |  WHERE a.comp <> b.comp),
         |sel$i AS MATERIALIZED (
         |  SELECT c, w, src, dst, other FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY c
         |      ORDER BY w, src, dst) AS rn
         |    FROM (
         |      SELECT cs AS c, w, src, dst, cd AS other FROM x$i
         |      UNION ALL
         |      SELECT cd AS c, w, src, dst, cs AS other FROM x$i) u) z
         |  WHERE rn = 1),
         |m$i AS MATERIALIZED (SELECT DISTINCT src, dst, w FROM sel$i),
         |p${i}_0 AS MATERIALIZED (
         |  SELECT s.c,
         |    CASE WHEN q.other = s.c AND s.c < s.other THEN s.c
         |         ELSE s.other END AS p
         |  FROM sel$i s JOIN sel$i q ON s.other = q.c),
         |$jumpCtes,
         |c$i AS MATERIALIZED (
         |  SELECT c.id, COALESCE(p.p, c.comp) AS comp
         |  FROM c${i - 1} c LEFT JOIN p${i}_$jumps p ON c.comp = p.c),
         |e$i AS MATERIALIZED (SELECT src, dst, w FROM x$i)""".stripMargin
    }.mkString(",\n")
    val all = (1 to rounds).map(i => s"SELECT src, dst, w FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""WITH e0 AS MATERIALIZED ($WU),
       |v AS MATERIALIZED (SELECT id FROM (SELECT src AS id FROM e0
       |  UNION SELECT dst AS id FROM e0) vv),
       |c0 AS MATERIALIZED (SELECT id, id AS comp FROM v),
       |$perRound
       |SELECT src, dst, w FROM (
       |  $all) f ORDER BY src, dst""".stripMargin
  }

  /** Brandes betweenness for the `nSources` smallest vertex ids, BFS
    * horizon `levels`: forward CTEs accumulate (q, id, dist, sigma) level
    * by level; backward CTEs accumulate dependencies deepest-level-first;
    * bc = Σ_q δ_q(v), v ≠ q, emitted ×1e9-rounded. */
  def betweenness(nSources: Int, levels: Int): String =
    betweennessFrom(nSources, levels, sampled = false)

  /** Sampled variant: sources are the nSources vertices with the
    * smallest engine-neutral hash (the permutation polynomial), id
    * tie-break — the deterministic stand-in for Brandes source sampling,
    * which is how full-graph BC runs at scale (per-source cost is a
    * whole BFS; the estimator sums a fixed sample). */
  def betweennessSampled(nSources: Int, levels: Int): String =
    betweennessFrom(nSources, levels, sampled = true)

  private def betweennessFrom(nSources: Int, levels: Int,
      sampled: Boolean): String = {
    val fwd = (1 to levels).map { r =>
      s"""f$r AS MATERIALIZED (
         |  SELECT q, id, dist, sigma FROM f${r - 1}
         |  UNION ALL
         |  SELECT n.q, n.id, $r AS dist, n.sigma FROM (
         |    SELECT s.q, e.dst AS id, CAST(SUM(s.sigma) AS BIGINT) AS sigma
         |    FROM edges e JOIN f${r - 1} s ON e.src = s.id AND s.dist = ${r - 1}
         |    GROUP BY s.q, e.dst) n
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM f${r - 1} p WHERE p.q = n.q AND p.id = n.id))""".stripMargin
    }.mkString(",\n")
    val bwd = ((levels - 1) to 0 by -1).map { l =>
      s"""d$l AS MATERIALIZED (
         |  SELECT vs.q, vs.id,
         |    SUM((CAST(vs.sigma AS DOUBLE) / ws.sigma)
         |        * (1.0 + COALESCE(dw.delta, 0.0))) AS delta
         |  FROM f$levels vs
         |  JOIN edges e ON e.src = vs.id
         |  JOIN f$levels ws ON ws.q = vs.q AND ws.id = e.dst
         |    AND ws.dist = ${l + 1}
         |  LEFT JOIN d${l + 1} dw ON dw.q = ws.q AND dw.id = ws.id
         |  WHERE vs.dist = $l
         |  GROUP BY vs.q, vs.id)""".stripMargin
    }.mkString(",\n")
    val allD = (0 until levels).map(l => s"SELECT * FROM d$l")
      .mkString("\n    UNION ALL ")
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |srcs AS MATERIALIZED (SELECT id AS q FROM v ORDER BY ${
        if (sampled) "((id % 1000003) * 2654435761 + id) % 4294967296 ASC, id ASC"
        else "id"} LIMIT $nSources),
       |f0 AS MATERIALIZED (
       |  SELECT q, q AS id, 0 AS dist, CAST(1 AS BIGINT) AS sigma FROM srcs),
       |$fwd,
       |d$levels AS (SELECT CAST(0 AS BIGINT) AS q, CAST(0 AS BIGINT) AS id,
       |  0.0 AS delta WHERE FALSE),
       |$bwd,
       |bc AS (
       |  SELECT id, SUM(delta) AS bc FROM (
       |    $allD) u
       |  WHERE id <> q GROUP BY id)
       |SELECT v.id, CAST(ROUND(COALESCE(bc.bc, 0.0) * 1000000000) AS BIGINT) AS bc_n
       |FROM v LEFT JOIN bc ON v.id = bc.id ORDER BY v.id""".stripMargin
  }

  /** `rounds` unrolled deterministic Luby MIS rounds over the symmetric
    * graph; priority = (hash, id) with the same integer polynomial as the
    * engine. */
  def independentSet(rounds: Int): String = {
    def h(x: String) = s"((($x % 1000003) * 2654435761 + $x) % 4294967296)"
    val iters = (1 to rounds).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT v.id FROM r${i - 1} v WHERE NOT EXISTS (
         |    SELECT 1 FROM edges e JOIN r${i - 1} u
         |    ON e.src = v.id AND e.dst = u.id
         |    WHERE ${h("u.id")} < ${h("v.id")}
         |       OR (${h("u.id")} = ${h("v.id")} AND u.id < v.id))),
         |n$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS id FROM edges e JOIN w$i w ON e.src = w.id),
         |r$i AS MATERIALIZED (
         |  SELECT id FROM r${i - 1}
         |  WHERE id NOT IN (SELECT id FROM w$i)
         |    AND id NOT IN (SELECT id FROM n$i))""".stripMargin
    }.mkString(",\n")
    val all = (1 to rounds).map(i => s"SELECT id FROM w$i")
      .mkString("\n  UNION ALL ")
    s"""WITH edges AS MATERIALIZED ($S),
       |r0 AS MATERIALIZED (${verts("edges")}),
       |$iters
       |SELECT id FROM (
       |  $all) m ORDER BY id""".stripMargin
  }

  /** `rounds` unrolled deterministic greedy-matching rounds over the
    * upper-oriented graph; edge priority = (hash, src, dst) with the same
    * polynomial as the engine. */
  /** The unrolled matching-round CTEs (w$i winners, mv$i matched
    * vertices, r$i remaining) over an `r0` canonical edge CTE; shared by
    * [[matching]] and [[bipart]]. */
  private def matchingIters(rounds: Int, p: String = ""): String = {
    def h(s: String, d: String) =
      s"((($s % 1000003) * 1000033 + ($d % 1000003)) % 4294967296)"
    (1 to rounds).map { i =>
      s"""${p}w$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM ${p}r${i - 1} e WHERE NOT EXISTS (
         |    SELECT 1 FROM ${p}r${i - 1} o
         |    WHERE (o.src = e.src OR o.src = e.dst
         |        OR o.dst = e.src OR o.dst = e.dst)
         |      AND NOT (o.src = e.src AND o.dst = e.dst)
         |      AND (${h("o.src", "o.dst")} < ${h("e.src", "e.dst")}
         |        OR (${h("o.src", "o.dst")} = ${h("e.src", "e.dst")}
         |          AND (o.src < e.src
         |            OR (o.src = e.src AND o.dst < e.dst)))))),
         |${p}mv$i AS MATERIALIZED (
         |  SELECT src AS id FROM ${p}w$i
         |  UNION SELECT dst AS id FROM ${p}w$i),
         |${p}r$i AS MATERIALIZED (
         |  SELECT src, dst FROM ${p}r${i - 1}
         |  WHERE src NOT IN (SELECT id FROM ${p}mv$i)
         |    AND dst NOT IN (SELECT id FROM ${p}mv$i))""".stripMargin
    }.mkString(",\n")
  }

  private def matchedUnion(rounds: Int, p: String = ""): String =
    (1 to rounds).map(i => s"SELECT src, dst FROM ${p}w$i")
      .mkString("\n  UNION ALL ")

  def matching(rounds: Int): String =
    s"""WITH sym AS MATERIALIZED ($S),
       |r0 AS MATERIALIZED (SELECT src, dst FROM sym WHERE src < dst),
       |${matchingIters(rounds)}
       |SELECT src, dst FROM (
       |  ${matchedUnion(rounds)}) m ORDER BY src, dst""".stripMargin

  /** Multilevel bisection (mirrors graft.operators.Bipart.bisect with
    * coarsenLevels = 1): matching-based contraction, id-ordered balanced
    * prefix split of the coarse level, projection, then `refineRounds`
    * alternating-direction gain refinement rounds at the fine level
    * (fine vertex weights are all 1, so weight sums are counts). */
  def bipart(matchRounds: Int, refineRounds: Int): String = {
    val refine = (1 to refineRounds).map { r =>
      val srcP = if (r % 2 == 1) 0 else 1
      val tgtP = 1 - srcP
      s"""g$r AS MATERIALIZED (
         |  SELECT e.src AS id, ps.part,
         |    CAST(SUM(CASE WHEN pd.part <> ps.part THEN e.w ELSE -e.w END)
         |      AS BIGINT) AS gain
         |  FROM eS e
         |  JOIN p${r - 1} ps ON e.src = ps.id
         |  JOIN p${r - 1} pd ON e.dst = pd.id
         |  GROUP BY e.src, ps.part),
         |t$r AS (SELECT
         |  CAST(SUM(CASE WHEN part = $srcP THEN 1 ELSE 0 END) AS BIGINT)
         |    AS ws,
         |  CAST(SUM(CASE WHEN part = $tgtP THEN 1 ELSE 0 END) AS BIGINT)
         |    AS wt0,
         |  CAST(COUNT(*) AS BIGINT) AS w FROM p${r - 1}),
         |a$r AS MATERIALIZED (
         |  SELECT id, gain FROM g$r WHERE part = $srcP AND gain > 0),
         |i$r AS MATERIALIZED (
         |  SELECT c.id, c.gain FROM a$r c WHERE NOT EXISTS (
         |    SELECT 1 FROM eS e JOIN a$r o ON e.dst = o.id
         |    WHERE e.src = c.id AND (o.gain > c.gain
         |      OR (o.gain = c.gain AND o.id < c.id)))),
         |c$r AS MATERIALIZED (
         |  SELECT id, SUM(1) OVER (ORDER BY gain DESC, id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM i$r),
         |m$r AS MATERIALIZED (
         |  SELECT c.id FROM c$r c, t$r t
         |  WHERE c.cum <= (CASE WHEN t.ws - t.wt0 + t.w // 10 < 0 THEN 0
         |    ELSE (t.ws - t.wt0 + t.w // 10) // 2 END)),
         |p$r AS MATERIALIZED (
         |  SELECT p.id,
         |    CASE WHEN m.id IS NOT NULL THEN CAST($tgtP AS BIGINT)
         |      ELSE p.part END AS part
         |  FROM p${r - 1} p LEFT JOIN m$r m ON p.id = m.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH sym AS MATERIALIZED ($S),
       |r0 AS MATERIALIZED (SELECT src, dst FROM sym WHERE src < dst),
       |${matchingIters(matchRounds)},
       |matched AS MATERIALIZED (SELECT src, dst FROM (
       |  ${matchedUnion(matchRounds)}) m),
       |vsf AS MATERIALIZED (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM r0 UNION ALL SELECT dst AS id FROM r0) u),
       |mapd AS MATERIALIZED (
       |  SELECT v.id, COALESCE(m.src, v.id) AS rep
       |  FROM vsf v LEFT JOIN matched m ON v.id = m.dst),
       |vwc AS MATERIALIZED (
       |  SELECT rep AS id, CAST(COUNT(*) AS BIGINT) AS wt
       |  FROM mapd GROUP BY rep),
       |tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS t FROM vwc),
       |p0c AS MATERIALIZED (
       |  SELECT id, CASE WHEN 2 * SUM(wt) OVER (ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      <= (SELECT t FROM tot)
       |    THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS part
       |  FROM vwc),
       |p0 AS MATERIALIZED (
       |  SELECT m.id, p.part FROM mapd m JOIN p0c p ON m.rep = p.id),
       |eS AS MATERIALIZED (
       |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM sym),
       |$refine
       |SELECT id, CAST(part AS BIGINT) AS part
       |FROM p$refineRounds ORDER BY id""".stripMargin
  }

  /** `rounds` unrolled k-truss support peels over the upper-oriented
    * symmetric graph: surviving undirected edges. */
  def ktruss(k: Int, rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""t$i AS MATERIALIZED (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM o${i - 1} e1
         |  JOIN o${i - 1} e2 ON e1.dst = e2.src
         |  JOIN o${i - 1} e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |s$i AS MATERIALIZED (
         |  SELECT src, dst, COUNT(*) AS sup FROM (
         |    SELECT a AS src, b AS dst FROM t$i
         |    UNION ALL SELECT b AS src, c AS dst FROM t$i
         |    UNION ALL SELECT a AS src, c AS dst FROM t$i) u
         |  GROUP BY src, dst),
         |o$i AS MATERIALIZED (
         |  SELECT o.src, o.dst FROM o${i - 1} o
         |  LEFT JOIN s$i s ON o.src = s.src AND o.dst = s.dst
         |  WHERE COALESCE(s.sup, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH sym AS MATERIALIZED ($S),
       |o0 AS MATERIALIZED (SELECT src, dst FROM sym WHERE src < dst),
       |$iters
       |SELECT src, dst FROM o$rounds ORDER BY src, dst""".stripMargin
  }

  /** Sanity aggregates (PageRank-pull.cpp:354-379) over the k-round
    * pull-topo ranks (already int64-scaled, so exact). */
  def pagerankSanity(k: Int): String =
    s"""SELECT CAST(MAX(rank_n) AS BIGINT) AS max_rank_n,
       |       CAST(MIN(rank_n) AS BIGINT) AS min_rank_n,
       |       CAST(SUM(rank_n) AS BIGINT) AS sum_rank_n
       |FROM (${pagerank(k)}) AS r""".stripMargin

  val graphStats: String =
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS (${verts("edges")}),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_vertices,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       |       (SELECT MAX(d) FROM deg) AS max_outdeg,
       |       (SELECT MIN(src) FROM deg WHERE d = (SELECT MAX(d) FROM deg)) AS max_outdeg_vertex""".stripMargin

  def pagerankTop20(k: Int): String = {
    val inner = pagerank(k)
    // re-sort the ranked output by (rank desc, id asc) — reference printTop
    // tie-break (PageRank-constants.h:61-65, reverse-iterated map emits the
    // smaller id first on equal values) — and keep 20.
    s"""SELECT id, rank_n FROM ($inner) AS r
       |ORDER BY rank_n DESC, id ASC LIMIT 20""".stripMargin
  }

  /** k unrolled min-label rounds; `sym` picks the edge orientation. */
  private def minLabelRounds(k: Int, sym: Boolean, outCol: String): String = {
    val src = if (sym) S else E
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT p.id, LEAST(p.c, COALESCE(m.mc, p.c)) AS c
         |  FROM s${i - 1} p
         |  LEFT JOIN (
         |    SELECT e.dst AS id, MIN(s.c) AS mc
         |    FROM edges e JOIN s${i - 1} s ON e.src = s.id
         |    GROUP BY e.dst) m ON p.id = m.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($src),
       |v AS MATERIALIZED (${verts("edges")}),
       |s0 AS MATERIALIZED (SELECT id, id AS c FROM v),
       |$iters
       |SELECT id, c AS $outCol FROM s$k ORDER BY id""".stripMargin
  }

  /** CC: min-label over the symmetrized graph; 20 rounds ≫ diameter at the
    * driver's scales (fixpoint is asserted in the test suite). */
  def cc(k: Int = 20): String = minLabelRounds(k, sym = true, "comp")

  def ccSizes(k: Int = 20): String =
    s"""SELECT comp, CAST(COUNT(*) AS BIGINT) AS size
       |FROM (${cc(k)}) AS c GROUP BY comp ORDER BY comp""".stripMargin

  /** LPA min-combine over the DIRECTED graph, k rounds. */
  def lpaMin(k: Int): String = minLabelRounds(k, sym = false, "label")

  /** LPA mode-combine (ties → smaller label), k rounds, directed. */
  def lpaMode(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT p.id, COALESCE(w.msg, p.label) AS label
         |  FROM s${i - 1} p
         |  LEFT JOIN (
         |    SELECT id, msg FROM (
         |      SELECT e.dst AS id, s.label AS msg, COUNT(*) AS cnt,
         |             ROW_NUMBER() OVER (PARTITION BY e.dst
         |               ORDER BY COUNT(*) DESC, s.label ASC) AS rn
         |      FROM edges e JOIN s${i - 1} s ON e.src = s.id
         |      GROUP BY e.dst, s.label) t
         |    WHERE rn = 1) w ON p.id = w.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($E),
       |v AS MATERIALIZED (${verts("edges")}),
       |s0 AS MATERIALIZED (SELECT id, id AS label FROM v),
       |$iters
       |SELECT id, label FROM s$k ORDER BY id""".stripMargin
  }

  /** One level of unrolled weighted Louvain local-move CTEs (mirrors
    * graft.operators.Louvain.localMoveRoundsWeighted): integer score
    * 2m·e − k·(Σtot − [cand=c]·k) with e = Σw into the candidate
    * community (self-loops excluded), alternating direction rule (odd
    * rounds cand ≤ c, even rounds cand ≥ c), ties → smaller community.
    * `p` prefixes the CTE names; `e`/`deg` name the weighted edge and
    * degree CTEs; states are `${p}0 … ${p}k`. */
  private def louvainLevel(p: String, e: String, deg: String,
      k: Int): String =
    (1 to k).map { i =>
      s"""${p}sig$i AS MATERIALIZED (
         |  SELECT s.c, CAST(SUM(d.k) AS BIGINT) AS tot
         |  FROM $p${i - 1} s JOIN $deg d ON s.id = d.id GROUP BY s.c),
         |${p}cand$i AS MATERIALIZED (
         |  SELECT id, cand, CAST(SUM(e) AS BIGINT) AS e FROM (
         |    SELECT e.src AS id, s.c AS cand, CAST(SUM(e.w) AS BIGINT) AS e
         |    FROM $e e JOIN $p${i - 1} s ON e.dst = s.id
         |    WHERE e.src <> e.dst
         |    GROUP BY e.src, s.c
         |    UNION ALL
         |    SELECT id, c AS cand, 0 AS e FROM $p${i - 1}) u
         |  GROUP BY id, cand),
         |${p}sc$i AS MATERIALIZED (
         |  SELECT cd.id, cd.cand,
         |    CAST((SELECT tot FROM m2) * cd.e
         |      - d.k * (g.tot - CASE WHEN cd.cand = s.c THEN d.k ELSE 0 END)
         |      AS BIGINT) AS score
         |  FROM ${p}cand$i cd
         |  JOIN $p${i - 1} s ON cd.id = s.id
         |  JOIN $deg d ON cd.id = d.id
         |  JOIN ${p}sig$i g ON cd.cand = g.c
         |  WHERE cd.cand ${if (i % 2 == 1) "<=" else ">="} s.c),
         |$p$i AS MATERIALIZED (
         |  SELECT id, cand AS c FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY score DESC, cand ASC) AS rn FROM ${p}sc$i) z
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private val louvainBase: String =
    s"""edges AS MATERIALIZED ($S),
       |e1 AS MATERIALIZED (
       |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges),
       |deg1 AS MATERIALIZED (
       |  SELECT src AS id, CAST(SUM(w) AS BIGINT) AS k FROM e1 GROUP BY src),
       |m2 AS (SELECT CAST(SUM(k) AS BIGINT) AS tot FROM deg1),
       |a0 AS MATERIALIZED (SELECT id, id AS c FROM deg1)""".stripMargin

  /** k unrolled local-move rounds (single level). */
  def louvain(k: Int): String =
    s"""WITH $louvainBase,
       |${louvainLevel("a", "e1", "deg1", k)}
       |SELECT id, c AS community FROM a$k ORDER BY id""".stripMargin

  /** Two Louvain levels: r1 local-move rounds, aggregation into the
    * weighted community graph (self-loops carry internal mass; 2m is
    * invariant under coarsening), r2 rounds on it, projection back. */
  def louvainTwoLevel(r1: Int, r2: Int): String =
    s"""WITH $louvainBase,
       |${louvainLevel("a", "e1", "deg1", r1)},
       |coarse AS MATERIALIZED (
       |  SELECT x.c AS src, y.c AS dst, CAST(SUM(e.w) AS BIGINT) AS w
       |  FROM e1 e
       |  JOIN a$r1 x ON e.src = x.id
       |  JOIN a$r1 y ON e.dst = y.id
       |  GROUP BY x.c, y.c),
       |deg2 AS MATERIALIZED (
       |  SELECT src AS id, CAST(SUM(w) AS BIGINT) AS k
       |  FROM coarse GROUP BY src),
       |b0 AS MATERIALIZED (SELECT id, id AS c FROM deg2),
       |${louvainLevel("b", "coarse", "deg2", r2)}
       |SELECT a.id, b.c AS community
       |FROM a$r1 a JOIN b$r2 b ON a.c = b.id ORDER BY a.id""".stripMargin

  /** Leiden one level (leidenClustering.cpp refinement on top of the
    * louvain local-move): r1 move rounds → singleton-restart refinement
    * over INTRA-community edges only, full-graph degrees/2m, rf rounds.
    * Same unrolled round body as louvain — only the candidate edge set
    * and the starting assignment differ. */
  def leidenRefine(r1: Int, rf: Int): String =
    s"""WITH $louvainBase,
       |${louvainLevel("a", "e1", "deg1", r1)},
       |intra AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w FROM e1 e
       |  JOIN a$r1 x ON e.src = x.id
       |  JOIN a$r1 y ON e.dst = y.id
       |  WHERE x.c = y.c),
       |r0 AS MATERIALIZED (SELECT id, id AS c FROM deg1),
       |${louvainLevel("r", "intra", "deg1", rf)}
       |SELECT id, c AS community FROM r$rf ORDER BY id""".stripMargin

  /** Two Leiden levels: move r1 + refine rf, aggregate on the REFINED
    * partition, seed the coarse local-move with each sub-community's
    * parent community (leidenClustering.cpp:238 initial partition), r2
    * rounds there, project back. */
  def leidenTwoLevel(r1: Int, rf: Int, r2: Int): String =
    s"""WITH $louvainBase,
       |${louvainLevel("a", "e1", "deg1", r1)},
       |intra AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w FROM e1 e
       |  JOIN a$r1 x ON e.src = x.id
       |  JOIN a$r1 y ON e.dst = y.id
       |  WHERE x.c = y.c),
       |r0 AS MATERIALIZED (SELECT id, id AS c FROM deg1),
       |${louvainLevel("r", "intra", "deg1", rf)},
       |coarse AS MATERIALIZED (
       |  SELECT x.c AS src, y.c AS dst, CAST(SUM(e.w) AS BIGINT) AS w
       |  FROM e1 e
       |  JOIN r$rf x ON e.src = x.id
       |  JOIN r$rf y ON e.dst = y.id
       |  GROUP BY x.c, y.c),
       |deg2 AS MATERIALIZED (
       |  SELECT src AS id, CAST(SUM(w) AS BIGINT) AS k
       |  FROM coarse GROUP BY src),
       |b0 AS MATERIALIZED (
       |  SELECT r.c AS id, MIN(a.c) AS c
       |  FROM r$rf r JOIN a$r1 a ON r.id = a.id GROUP BY r.c),
       |${louvainLevel("b", "coarse", "deg2", r2)}
       |SELECT s.id, b.c AS community
       |FROM r$rf s JOIN b$r2 b ON s.c = b.id ORDER BY s.id""".stripMargin

  val triangles: String =
    s"""WITH edges AS MATERIALIZED ($S),
       |o AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst)
       |SELECT CAST(COUNT(*) AS BIGINT) AS triangles
       |FROM o e1
       |JOIN o e2 ON e1.dst = e2.src
       |JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin

  /** k-clique count over the id-oriented undirected edge set. The count
    * is orientation-invariant (a clique has exactly one topological
    * order under ANY acyclic orientation), so the engine's degree
    * orientation and this oracle's id orientation agree. Join cascade
    * mirrors Mining.kcliques: one proposal join per new vertex plus the
    * membership joins for all earlier members. */
  def kclique(k: Int): String = {
    def v(i: Int) =
      if (i == 1) "p_1_2.src"
      else if (i == 2) "p_1_2.dst"
      else s"p_${i - 1}_$i.dst"
    val joins = (3 to k).flatMap { i =>
      s"JOIN o p_${i - 1}_$i ON p_${i - 1}_$i.src = ${v(i - 1)}" +:
        (1 to i - 2).map { j =>
          s"JOIN o p_${j}_$i ON p_${j}_$i.src = ${v(j)} " +
            s"AND p_${j}_$i.dst = p_${i - 1}_$i.dst"
        }
    }.mkString("\n")
    s"""WITH edges AS MATERIALIZED ($S),
       |o AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst)
       |SELECT CAST(COUNT(*) AS BIGINT) AS cliques
       |FROM o p_1_2
       |$joins""".stripMargin
  }

  /** 3-vertex connected-motif census: wedges = Σ d(d−1)//2 over
    * undirected degrees (exact: the sum is even), triangles via the
    * oriented two-join, open wedges = wedges − 3·triangles. */
  val motif3: String =
    s"""WITH edges AS MATERIALIZED ($S),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
       |        FROM edges GROUP BY src),
       |w AS (SELECT CAST(COALESCE(SUM(d * (d - 1)), 0) AS BIGINT) // 2
       |        AS wedges FROM deg),
       |o AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS triangles
       |      FROM o e1 JOIN o e2 ON e1.dst = e2.src
       |      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst)
       |SELECT w.wedges, t.triangles,
       |       CAST(w.wedges - 3 * t.triangles AS BIGINT) AS open_wedges
       |FROM w, t""".stripMargin

  /** Edge-induced 4-cycle count (sgl_cycle): the max-vertex wedge
    * formulation under ID order — every 4-cycle has a unique maximum
    * vertex u (any total order works, so the engine's (degree, id)
    * order and this oracle's id order agree) and a unique opposite w;
    * Σ C(wedges(u,w), 2) over wedges u–v–w with v, w < u counts each
    * cycle exactly once. */
  val sglCycle: String =
    s"""WITH edges AS MATERIALIZED ($S),
       |o AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
       |wed AS (SELECT o.dst AS u, e.dst AS w
       |        FROM o JOIN edges e ON e.src = o.src WHERE e.dst < o.dst),
       |g AS (SELECT u, w, COUNT(*) AS n FROM wed GROUP BY u, w)
       |SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT)
       |  AS cycles FROM g""".stripMargin

  /** Edge-induced diamond count (sgl_diamond) = pairs of triangles
    * sharing an edge: triangle listing → 3 edge credits each →
    * Σ C(t_e, 2). */
  val sglDiamond: String =
    s"""WITH edges AS MATERIALIZED ($S),
       |o AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
       |tri AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |      FROM o e1 JOIN o e2 ON e1.dst = e2.src
       |      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |ecr AS (SELECT x, y, COUNT(*) AS n FROM (
       |        SELECT a AS x, b AS y FROM tri
       |        UNION ALL SELECT b, c FROM tri
       |        UNION ALL SELECT a, c FROM tri) u GROUP BY x, y)
       |SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT)
       |  AS diamonds FROM ecr""".stripMargin

  /** 4-vertex connected-motif census, INDUCED counts via the same
    * inclusion–exclusion identities as graft.operators.Mining.motif4
    * (cross-checked against a brute-force census in the ScalaTest
    * spec): subgraph counts k4 (4-clique cascade), dsub (edge-sharing
    * triangle pairs), c4s (max-vertex wedges), pawsub (Σ t_v·(d_v−2)),
    * starsub (Σ C(d,3)), p4walks (Σ_e (d_u−1)(d_v−1)). */
  val motif4: String =
    s"""WITH edges AS MATERIALIZED ($S),
       |deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
       |      FROM edges GROUP BY src),
       |o AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
       |tri AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |      FROM o e1 JOIN o e2 ON e1.dst = e2.src
       |      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tri),
       |k4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS k4 FROM o p12
       |       JOIN o p23 ON p23.src = p12.dst
       |       JOIN o p13 ON p13.src = p12.src AND p13.dst = p23.dst
       |       JOIN o p34 ON p34.src = p23.dst
       |       JOIN o p14 ON p14.src = p12.src AND p14.dst = p34.dst
       |       JOIN o p24 ON p24.src = p12.dst AND p24.dst = p34.dst),
       |ecr AS (SELECT x, y, COUNT(*) AS n FROM (
       |        SELECT a AS x, b AS y FROM tri
       |        UNION ALL SELECT b, c FROM tri
       |        UNION ALL SELECT a, c FROM tri) u GROUP BY x, y),
       |ds AS (SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT)
       |       AS v FROM ecr),
       |wed AS (SELECT o.dst AS u, e.dst AS w
       |        FROM o JOIN edges e ON e.src = o.src WHERE e.dst < o.dst),
       |c4 AS (SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT)
       |       AS v FROM (SELECT u, w, COUNT(*) AS n FROM wed
       |                  GROUP BY u, w) g),
       |tv AS (SELECT id, COUNT(*) AS tv FROM (
       |        SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
       |        UNION ALL SELECT c FROM tri) u GROUP BY id),
       |paw AS (SELECT CAST(COALESCE(SUM(tv.tv * (deg.d - 2)), 0) AS BIGINT)
       |        AS v FROM tv JOIN deg ON tv.id = deg.id),
       |st AS (SELECT CAST(COALESCE(SUM(d * (d-1) * (d-2) // 6), 0) AS BIGINT)
       |       AS v FROM deg),
       |p4 AS (SELECT CAST(COALESCE(SUM((du.d - 1) * (dv.d - 1)), 0) AS BIGINT)
       |       AS v FROM o JOIN deg du ON o.src = du.id
       |       JOIN deg dv ON o.dst = dv.id)
       |SELECT
       |  CAST(p4.v - 3 * t.t - 4 * (c4.v - ds.v + 3 * k4.k4)
       |    - 2 * (paw.v - 4 * ds.v + 12 * k4.k4)
       |    - 6 * (ds.v - 6 * k4.k4) - 12 * k4.k4 AS BIGINT) AS path4,
       |  CAST(st.v - (paw.v - 4 * ds.v + 12 * k4.k4)
       |    - 2 * (ds.v - 6 * k4.k4) - 4 * k4.k4 AS BIGINT) AS star4,
       |  CAST(c4.v - ds.v + 3 * k4.k4 AS BIGINT) AS cycle4,
       |  CAST(paw.v - 4 * ds.v + 12 * k4.k4 AS BIGINT) AS tailed_tri4,
       |  CAST(ds.v - 6 * k4.k4 AS BIGINT) AS diamond4,
       |  k4.k4 AS clique4
       |FROM t, k4, ds, c4, paw, st, p4""".stripMargin

  /** FSM 3-edge triangle patterns with exact MNI over (id/8)%4 labels
    * (mirrors graft.operators.Mining.fsm3Triangle; see lab3 for why
    * NOT id%4). */
  def fsm3Tri(minsup: Long): String =
    s"""WITH edges AS MATERIALIZED ($S),
       |o AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
       |tri AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |      FROM o e1 JOIN o e2 ON e1.dst = e2.src
       |      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |lt AS (SELECT a, b, c, (a // 8) % 4 AS la, (b // 8) % 4 AS lbv,
       |       (c // 8) % 4 AS lcv FROM tri),
       |pt AS (SELECT LEAST(la, lbv, lcv) AS p1,
       |       la + lbv + lcv - LEAST(la, lbv, lcv)
       |         - GREATEST(la, lbv, lcv) AS p2,
       |       GREATEST(la, lbv, lcv) AS p3, a, b, c, la, lbv, lcv FROM lt),
       |corners AS (SELECT DISTINCT p1, p2, p3, v, lv FROM (
       |       SELECT p1, p2, p3, a AS v, la AS lv FROM pt
       |       UNION ALL SELECT p1, p2, p3, b, lbv FROM pt
       |       UNION ALL SELECT p1, p2, p3, c, lcv FROM pt) u),
       |dom AS (SELECT p1, p2, p3, lv, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM corners GROUP BY p1, p2, p3, lv)
       |SELECT d1.p1 AS l1, d1.p2 AS l2, d1.p3 AS l3,
       |  CAST(LEAST(d1.n, d2.n, d3.n) AS BIGINT) AS support
       |FROM dom d1
       |JOIN dom d2 ON d2.p1 = d1.p1 AND d2.p2 = d1.p2 AND d2.p3 = d1.p3
       |  AND d2.lv = d1.p2
       |JOIN dom d3 ON d3.p1 = d1.p1 AND d3.p2 = d1.p2 AND d3.p3 = d1.p3
       |  AND d3.lv = d1.p3
       |WHERE d1.lv = d1.p1 AND LEAST(d1.n, d2.n, d3.n) >= $minsup
       |ORDER BY l1, l2, l3""".stripMargin

  /** FSM 3-edge path patterns, exact MNI over (id/8)%4 labels — the
    * oracle is an INDEPENDENT implementation: full embedding
    * enumeration with distinctness predicates + per-slot distinct
    * counts (feasible for DuckDB at oracle scale; the engine side uses
    * the closed-form inclusion–exclusion because sf0.1 has 2.3·10^10
    * path walks). */
  def fsm3Path(minsup: Long): String =
    s"""WITH edges AS MATERIALIZED ($S),
       |emb AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c, e3.dst AS d
       |        FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
       |        JOIN edges e3 ON e2.dst = e3.src
       |        WHERE e2.dst != e1.src AND e3.dst != e2.src
       |          AND e3.dst != e1.src),
       |lab AS (SELECT (a // 8) % 4 AS la, (b // 8) % 4 AS lb,
       |        (c // 8) % 4 AS lc, (d // 8) % 4 AS ld, a, b, c, d
       |        FROM emb),
       |canon AS (SELECT * FROM lab WHERE (la, lb, lc, ld) <= (ld, lc, lb, la)),
       |doms AS (SELECT la, lb, lc, ld,
       |         LEAST(COUNT(DISTINCT a), COUNT(DISTINCT b),
       |               COUNT(DISTINCT c), COUNT(DISTINCT d)) AS s
       |         FROM canon GROUP BY la, lb, lc, ld)
       |SELECT la AS l1, lb AS l2, lc AS l3, ld AS l4,
       |  CAST(s AS BIGINT) AS support
       |FROM doms WHERE s >= $minsup
       |ORDER BY l1, l2, l3, l4""".stripMargin

  val trianglesPerVertex: String =
    s"""WITH edges AS MATERIALIZED ($S),
       |v AS MATERIALIZED (${verts("edges")}),
       |o AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
       |tr AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |       FROM o e1
       |       JOIN o e2 ON e1.dst = e2.src
       |       JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |cr AS (SELECT id, COUNT(*) AS cnt FROM (
       |         SELECT a AS id FROM tr
       |         UNION ALL SELECT b AS id FROM tr
       |         UNION ALL SELECT c AS id FROM tr) u GROUP BY id)
       |SELECT v.id, CAST(COALESCE(cr.cnt, 0) AS BIGINT) AS triangles
       |FROM v LEFT JOIN cr ON v.id = cr.id ORDER BY v.id""".stripMargin

  /** FSM single-edge patterns with exact MNI support (mirrors
    * graft.operators.Mining.fsmEdge; labels = id % 4). */
  def fsmEdge(minsup: Long): String =
    s"""WITH sym AS MATERIALIZED ($S),
       |d AS MATERIALIZED (
       |  SELECT src % 4 AS ls, dst % 4 AS ld,
       |    CAST(COUNT(DISTINCT src) AS BIGINT) AS n
       |  FROM sym GROUP BY src % 4, dst % 4)
       |SELECT x.ls AS l1, x.ld AS l2,
       |  CAST(LEAST(x.n, y.n) AS BIGINT) AS support
       |FROM d x JOIN d y ON x.ls = y.ld AND x.ld = y.ls
       |WHERE x.ls <= x.ld AND LEAST(x.n, y.n) >= $minsup
       |ORDER BY l1, l2""".stripMargin

  /** FSM wedge patterns with exact MNI support — domains computed with
    * O(E) grouped aggregates, never enumerating embeddings (mirrors
    * graft.operators.Mining.fsmWedge). */
  def fsmWedge(minsup: Long): String =
    s"""WITH sym AS MATERIALIZED ($S),
       |nc AS MATERIALIZED (
       |  SELECT src AS c, dst % 4 AS l,
       |    CAST(COUNT(DISTINCT dst) AS BIGINT) AS cnt
       |  FROM sym GROUP BY src, dst % 4),
       |centers AS MATERIALIZED (
       |  SELECT a.c % 4 AS lc, a.l AS l1, b.l AS l2,
       |    CAST(COUNT(DISTINCT a.c) AS BIGINT) AS domc
       |  FROM nc a JOIN nc b ON a.c = b.c
       |    AND (a.l < b.l OR (a.l = b.l AND a.cnt >= 2))
       |  GROUP BY a.c % 4, a.l, b.l),
       |ep AS MATERIALIZED (
       |  SELECT e.dst % 4 AS lc, e.src % 4 AS lu, n.l,
       |    CAST(COUNT(DISTINCT e.src) AS BIGINT) AS dom
       |  FROM sym e JOIN nc n ON e.dst = n.c
       |  WHERE n.cnt >= CASE WHEN e.src % 4 = n.l THEN 2 ELSE 1 END
       |  GROUP BY e.dst % 4, e.src % 4, n.l),
       |d1 AS (SELECT lc, lu AS l1, l AS l2, dom AS dom1 FROM ep
       |  WHERE lu <= l),
       |d2 AS (SELECT lc, l AS l1, lu AS l2, dom AS dom2 FROM ep
       |  WHERE l <= lu)
       |SELECT c.lc, c.l1, c.l2,
       |  CAST(LEAST(c.domc, d1.dom1, d2.dom2) AS BIGINT) AS support
       |FROM centers c
       |JOIN d1 ON c.lc = d1.lc AND c.l1 = d1.l1 AND c.l2 = d1.l2
       |JOIN d2 ON c.lc = d2.lc AND c.l1 = d2.l1 AND c.l2 = d2.l2
       |WHERE LEAST(c.domc, d1.dom1, d2.dom2) >= $minsup
       |ORDER BY c.lc, c.l1, c.l2""".stripMargin

  /** One k-way level (mirrors graft.operators.Bipart.splitLevel): every
    * part of the input assignment `pin` bisected simultaneously — intra-
    * part edges, matching contraction, per-part (PARTITION BY grp)
    * prefix split, projection, grouped independent-set refinement. */
  private def kwayLevel(p: String, pin: String, matchRounds: Int,
      refineRounds: Int): String = {
    val refine = (1 to refineRounds).map { r =>
      val side = if (r % 2 == 1) 0 else 1
      val tgt = 1 - side
      s"""${p}g$r AS MATERIALIZED (
         |  SELECT e.src AS id, ps.part,
         |    CAST(SUM(CASE WHEN pd.part <> ps.part THEN e.w ELSE -e.w END)
         |      AS BIGINT) AS gain
         |  FROM ${p}eS e
         |  JOIN ${p}q${r - 1} ps ON e.src = ps.id
         |  JOIN ${p}q${r - 1} pd ON e.dst = pd.id
         |  GROUP BY e.src, ps.part),
         |${p}t$r AS MATERIALIZED (
         |  SELECT grp, ws, wt0, w,
         |    CASE WHEN ws - wt0 + w // 10 < 0 THEN 0
         |      ELSE (ws - wt0 + w // 10) // 2 END AS slack
         |  FROM (
         |    SELECT CAST(q.part // 2 AS BIGINT) AS grp,
         |      CAST(SUM(CASE WHEN q.part % 2 = $side THEN v.wt ELSE 0 END)
         |        AS BIGINT) AS ws,
         |      CAST(SUM(CASE WHEN q.part % 2 = $tgt THEN v.wt ELSE 0 END)
         |        AS BIGINT) AS wt0,
         |      CAST(SUM(v.wt) AS BIGINT) AS w
         |    FROM ${p}q${r - 1} q JOIN vwf v ON q.id = v.id
         |    GROUP BY q.part // 2) z),
         |${p}a$r AS MATERIALIZED (
         |  SELECT g.id, g.gain, v.wt,
         |    CAST(g.part // 2 AS BIGINT) AS grp
         |  FROM ${p}g$r g JOIN vwf v ON g.id = v.id
         |  WHERE g.part % 2 = $side AND g.gain > 0),
         |${p}i$r AS MATERIALIZED (
         |  SELECT c.id, c.gain, c.wt, c.grp FROM ${p}a$r c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ${p}eS e JOIN ${p}a$r o ON e.dst = o.id
         |    WHERE e.src = c.id AND o.grp = c.grp AND (o.gain > c.gain
         |      OR (o.gain = c.gain AND o.id < c.id)))),
         |${p}c$r AS MATERIALIZED (
         |  SELECT id, grp, SUM(wt) OVER (PARTITION BY grp
         |    ORDER BY gain DESC, id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ${p}i$r),
         |${p}m$r AS MATERIALIZED (
         |  SELECT c.id FROM ${p}c$r c JOIN ${p}t$r t ON c.grp = t.grp
         |  WHERE c.cum <= t.slack),
         |${p}q$r AS MATERIALIZED (
         |  SELECT q.id,
         |    CAST(CASE WHEN m.id IS NOT NULL
         |      THEN (q.part // 2) * 2 + $tgt ELSE q.part END AS BIGINT)
         |      AS part
         |  FROM ${p}q${r - 1} q
         |  LEFT JOIN ${p}m$r m ON q.id = m.id)""".stripMargin
    }.mkString(",\n")
    s"""${p}pe AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w, x.part AS grp
       |  FROM ce e JOIN $pin x ON e.src = x.id
       |  JOIN $pin y ON e.dst = y.id
       |  WHERE x.part = y.part),
       |${p}r0 AS MATERIALIZED (SELECT src, dst FROM ${p}pe),
       |${matchingIters(matchRounds, p)},
       |${p}matched AS MATERIALIZED (SELECT src, dst FROM (
       |  ${matchedUnion(matchRounds, p)}) m),
       |${p}map AS MATERIALIZED (
       |  SELECT v.id, COALESCE(m.src, v.id) AS rep, v.part AS grp
       |  FROM $pin v LEFT JOIN ${p}matched m ON v.id = m.dst),
       |${p}vwc AS MATERIALIZED (
       |  SELECT m.rep AS id, m.grp, CAST(SUM(v.wt) AS BIGINT) AS wt
       |  FROM ${p}map m JOIN vwf v ON m.id = v.id GROUP BY m.rep, m.grp),
       |${p}tot AS (SELECT grp, CAST(SUM(wt) AS BIGINT) AS tot
       |  FROM ${p}vwc GROUP BY grp),
       |${p}p0c AS MATERIALIZED (
       |  SELECT c.id AS rep, c.grp,
       |    CAST(c.grp * 2 + CASE WHEN 2 * SUM(c.wt) OVER (
       |        PARTITION BY c.grp ORDER BY c.id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        <= t.tot THEN 0 ELSE 1 END AS BIGINT) AS part
       |  FROM ${p}vwc c JOIN ${p}tot t ON c.grp = t.grp),
       |${p}q0 AS MATERIALIZED (
       |  SELECT m.id, p.part
       |  FROM ${p}map m JOIN ${p}p0c p
       |    ON m.rep = p.rep AND m.grp = p.grp),
       |${p}eS AS MATERIALIZED (
       |  SELECT src, dst, w FROM ${p}pe
       |  UNION ALL SELECT dst AS src, src AS dst, w FROM ${p}pe),
       |$refine""".stripMargin
  }

  /** 2^depth-way simultaneous recursive bisection (mirrors
    * graft.operators.Bipart.kway). */
  def kway(depth: Int, matchRounds: Int, refineRounds: Int): String = {
    val levels = (1 to depth).map { l =>
      val pin = if (l == 1) "P0" else s"k${l - 1}q$refineRounds"
      kwayLevel(s"k$l", pin, matchRounds, refineRounds)
    }.mkString(",\n")
    s"""WITH sym AS MATERIALIZED ($S),
       |ce AS MATERIALIZED (
       |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM sym
       |  WHERE src < dst),
       |vsf AS MATERIALIZED (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM ce UNION ALL SELECT dst AS id FROM ce) u),
       |vwf AS MATERIALIZED (
       |  SELECT id, CAST(1 AS BIGINT) AS wt FROM vsf),
       |P0 AS MATERIALIZED (
       |  SELECT id, CAST(0 AS BIGINT) AS part FROM vsf),
       |$levels
       |SELECT id, part FROM k${depth}q$refineRounds ORDER BY id"""
      .stripMargin
  }

  /** Lock-step preflow-push (mirrors
    * graft.operators.PreflowPush.run over the weighted directed
    * fixture; s = min vertex, t = max vertex in s's mod-8 class): per
    * round a push phase (per-vertex prefix-sum allotment over admissible
    * arcs) then a relabel phase on the post-push residual graph.
    * Output: per-vertex (id, ex, h). */
  def preflow(rounds: Int): String = {
    val sS = "(SELECT s FROM st)"
    val tS = "(SELECT t FROM tt)"
    val iters = (1 to rounds).map { r =>
      s"""pu$r AS MATERIALIZED (
         |  SELECT u, v,
         |    CAST(LEAST(res, ex - (cum - res)) AS BIGINT) AS p FROM (
         |    SELECT a.u, a.v, a.res, e.ex,
         |      SUM(a.res) OVER (PARTITION BY a.u ORDER BY a.v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM a${r - 1} a
         |    JOIN ex${r - 1} e ON a.u = e.id
         |    JOIN h${r - 1} hu ON a.u = hu.id
         |    JOIN h${r - 1} hv ON a.v = hv.id
         |    WHERE a.res > 0 AND e.ex > 0 AND a.u <> $sS AND a.u <> $tS
         |      AND hu.h = hv.h + 1) z
         |  WHERE ex - (cum - res) > 0),
         |a$r AS MATERIALIZED (
         |  SELECT a.u, a.v,
         |    CAST(a.res - COALESCE(pf.p, 0) + COALESCE(pr.p, 0)
         |      AS BIGINT) AS res
         |  FROM a${r - 1} a
         |  LEFT JOIN pu$r pf ON a.u = pf.u AND a.v = pf.v
         |  LEFT JOIN pu$r pr ON a.u = pr.v AND a.v = pr.u),
         |ex$r AS MATERIALIZED (
         |  SELECT e.id,
         |    CAST(e.ex - COALESCE(po.sp, 0) + COALESCE(pi.sp, 0)
         |      AS BIGINT) AS ex
         |  FROM ex${r - 1} e
         |  LEFT JOIN (SELECT u, CAST(SUM(p) AS BIGINT) AS sp
         |    FROM pu$r GROUP BY u) po ON e.id = po.u
         |  LEFT JOIN (SELECT v, CAST(SUM(p) AS BIGINT) AS sp
         |    FROM pu$r GROUP BY v) pi ON e.id = pi.v),
         |h$r AS MATERIALIZED (
         |  SELECT h.id,
         |    CAST(CASE WHEN e.ex > 0 AND h.id <> $sS AND h.id <> $tS
         |        AND adm.u IS NULL
         |      THEN COALESCE(mn.m + 1, h.h) ELSE h.h END AS BIGINT) AS h
         |  FROM h${r - 1} h
         |  JOIN ex$r e ON h.id = e.id
         |  LEFT JOIN (SELECT DISTINCT a.u FROM a$r a
         |    JOIN h${r - 1} h1 ON a.u = h1.id
         |    JOIN h${r - 1} h2 ON a.v = h2.id
         |    WHERE a.res > 0 AND h1.h = h2.h + 1) adm ON h.id = adm.u
         |  LEFT JOIN (SELECT a.u, MIN(h2.h) AS m FROM a$r a
         |    JOIN h${r - 1} h2 ON a.v = h2.id WHERE a.res > 0
         |    GROUP BY a.u) mn ON h.id = mn.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH wedges AS MATERIALIZED (${TpchGraph.weightedEdgesSql}),
       |arcs00 AS MATERIALIZED (
       |  SELECT u, v, CAST(SUM(c) AS BIGINT) AS res FROM (
       |    SELECT src AS u, dst AS v, w AS c FROM wedges
       |    UNION ALL SELECT dst AS u, src AS v, 0 AS c FROM wedges) z
       |  GROUP BY u, v),
       |vs AS MATERIALIZED (SELECT DISTINCT u AS id FROM arcs00),
       |st AS (SELECT MIN(id) AS s FROM vs),
       |tt AS (SELECT MAX(id) AS t FROM vs
       |  WHERE id % 8 = (SELECT s FROM st) % 8),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vs),
       |sarc AS MATERIALIZED (
       |  SELECT v, res FROM arcs00 WHERE u = $sS AND res > 0),
       |a0 AS MATERIALIZED (
       |  SELECT a.u, a.v,
       |    CAST(a.res - CASE WHEN a.u = $sS THEN a.res ELSE 0 END
       |      + CASE WHEN a.v = $sS THEN COALESCE(sa.res, 0) ELSE 0 END
       |      AS BIGINT) AS res
       |  FROM arcs00 a LEFT JOIN sarc sa ON a.u = sa.v),
       |ex0 AS MATERIALIZED (
       |  SELECT v.id, CAST(CASE WHEN v.id = $sS THEN 0
       |    ELSE COALESCE(sa.res, 0) END AS BIGINT) AS ex
       |  FROM vs v LEFT JOIN sarc sa ON v.id = sa.v),
       |h0 AS MATERIALIZED (
       |  SELECT v.id, CAST(CASE WHEN v.id = $sS THEN (SELECT n FROM nn)
       |    ELSE 0 END AS BIGINT) AS h
       |  FROM vs v),
       |$iters
       |SELECT e.id, e.ex, h.h
       |FROM ex$rounds e JOIN h$rounds h ON e.id = h.id
       |ORDER BY e.id""".stripMargin
  }

  /** Andersen points-to, `rounds` unrolled semi-naive rounds (mirrors
    * graft.operators.PointsTo.run over the
    * TpchGraph.ptaConstraints fixture): copy-edge growth from load/store
    * constraints, then one propagation step, both deduped by UNION.
    * Output: per-variable pts-set sizes. */
  def ptaSizes(rounds: Int): String = {
    val iters = (1 to rounds).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT src, dst FROM c${t - 1}
         |  UNION
         |  SELECT pp.obj AS src, l.p AS dst
         |  FROM ld l JOIN p${t - 1} pp ON l.q = pp.vr
         |  UNION
         |  SELECT s.q AS src, pp.obj AS dst
         |  FROM st s JOIN p${t - 1} pp ON s.p = pp.vr),
         |p$t AS MATERIALIZED (
         |  SELECT vr, obj FROM p${t - 1}
         |  UNION
         |  SELECT c.dst AS vr, pp.obj
         |  FROM c$t c JOIN p${t - 1} pp ON c.src = pp.vr)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($E),
       |vs AS (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM edges
       |  UNION ALL SELECT dst AS id FROM edges) u),
       |p0 AS MATERIALIZED (
       |  SELECT id AS vr, id + 1000000 AS obj FROM vs WHERE id % 5 = 0),
       |c0 AS MATERIALIZED (
       |  SELECT src, dst FROM edges WHERE (src + dst) % 8 = 0),
       |ld AS MATERIALIZED (
       |  SELECT src AS q, dst AS p FROM edges WHERE (src + dst) % 8 = 1),
       |st AS MATERIALIZED (
       |  SELECT src AS q, dst AS p FROM edges WHERE (src + dst) % 8 = 2),
       |$iters
       |SELECT vr AS id, CAST(COUNT(*) AS BIGINT) AS npts
       |FROM p$rounds GROUP BY vr ORDER BY id""".stripMargin
  }

  // ---- matrix completion (matrixCompletion.cpp, alternating full-batch
  // fixed-point gradient rounds — mirrors
  // graft.operators.MatrixCompletion, S = 128, lr = 1/8, D = 4) ----

  private def mcInitCte(p: String, idCol: String, a: Int, b: Int): String = {
    val fs = (0 until 4).map(k =>
      s"CAST((((id * $a + ${k * b}) % 9) - 4) * 16 AS BIGINT) AS f$k")
      .mkString(", ")
    s"""${p}0 AS MATERIALIZED (
       |  SELECT id, $fs
       |  FROM (SELECT DISTINCT $idCol AS id FROM ratings))""".stripMargin
  }

  /** The unrolled WITH body: ratings, u0/v0 init, and e1..e(rounds+1)
    * error frames with the alternating factor updates between them.
    * Returns (body, finalUserCte). */
  private def mcBody(rounds: Int): (String, String) = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"ratings AS MATERIALIZED (${TpchGraph.ratingsSql})",
      mcInitCte("u", "u", 31, 17),
      mcInitCte("v", "i", 37, 23))
    var cu = "u0"
    var cv = "v0"
    for (t <- 1 to rounds + 1) {
      val dot = (0 until 4).map(k => s"u.f$k * v.f$k").mkString(" + ")
      val ufs = (0 until 4).map(k => s"u.f$k AS uf$k").mkString(", ")
      val vfs = (0 until 4).map(k => s"v.f$k AS vf$k").mkString(", ")
      parts += s"""e$t AS MATERIALIZED (
        |  SELECT r.u, r.i, $ufs, $vfs,
        |    r.r * 128 - CAST(FLOOR(CAST($dot AS DOUBLE) / 128.0) AS BIGINT)
        |      AS err
        |  FROM ratings r JOIN $cu u ON r.u = u.id
        |  JOIN $cv v ON r.i = v.id)""".stripMargin
      if (t <= rounds) {
        val (side, tgt, other) =
          if (t % 2 == 1) ("u", "u", "vf") else ("i", "v", "uf")
        val upd = (0 until 4).map(k =>
          s"""CAST(s.f$k + FLOOR(CAST(g.g$k AS DOUBLE)
             | / (1024.0 * g.deg)) AS BIGINT) AS f$k""".stripMargin
            .replace("\n", "")).mkString(",\n    ")
        val sums = (0 until 4).map(k =>
          s"SUM(err * $other$k) AS g$k").mkString(", ")
        val cur = if (t % 2 == 1) cu else cv
        parts += s"""$tgt$t AS MATERIALIZED (
          |  SELECT s.id,
          |    $upd
          |  FROM $cur s JOIN (
          |    SELECT e.$side AS id, COUNT(*) AS deg, $sums
          |    FROM e$t e GROUP BY e.$side) g ON s.id = g.id)""".stripMargin
        if (t % 2 == 1) cu = s"u$t" else cv = s"v$t"
      }
    }
    (parts.mkString(",\n"), cu)
  }

  /** User factors after `rounds` alternating rounds: (u, f0..f3). */
  def mcUserFactors(rounds: Int): String = {
    val (body, cu) = mcBody(rounds)
    s"""WITH $body
       |SELECT id AS u, f0, f1, f2, f3 FROM $cu ORDER BY u""".stripMargin
  }

  /** 21-pattern induced 5-motif census (motif.cpp k=5) over the 1-in-8
    * hash-sampled fixture — an INDEPENDENT formulation from the
    * engine's hom-algebra path: enumerate every connected 5-vertex
    * subset by sorted-tuple growth (per-level DISTINCT keeps the
    * frontier at the true connected-set count), read off the 10
    * adjacency bits per subset, and classify by the (edge count,
    * sorted degree sequence, triangle count) signature — a complete
    * invariant over the 21 patterns, asserted in Motif5Spec. The
    * sample filter mixes the slot bits (id // 8): both endpoints of
    * every fixture edge share id % 8, so any arithmetic on the raw ids
    * mod k would collapse to a per-class constant. */
  lazy val motif5: String = {
    import graft.operators.Motif5
    def grow(k: Int): String = {
      val prev = (1 until k).map(i => s"s$i")
      val branches = prev.map { c =>
        s"SELECT ${prev.map(p => s"t.$p").mkString(", ")}, a.y " +
          s"FROM s${k - 1} t JOIN arcs a ON a.x = t.$c"
      }.mkString("\n    UNION ALL ")
      val cols = (1 to k).map(i => s"v[$i] AS s$i").mkString(", ")
      s"""s$k AS MATERIALIZED (SELECT DISTINCT $cols FROM (
         |  SELECT list_sort([${prev.mkString(", ")}, y]) AS v FROM (
         |    $branches) g
         |  WHERE ${prev.map(p => s"y <> $p").mkString(" AND ")}) q)"""
        .stripMargin
    }
    val bits = Motif5.pairs.zipWithIndex.map { case ((a, b), i) =>
      s"CASE WHEN EXISTS (SELECT 1 FROM und w WHERE w.u = t.s${a + 1} " +
        s"AND w.v = t.s${b + 1}) THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n    ")
    val deg = (0 until 5).map { v =>
      Motif5.pairs.zipWithIndex
        .collect { case ((a, b), i) if a == v || b == v => s"b$i" }
        .mkString(" + ")
    }
    val tri = (for {
      a <- 0 until 5; b <- a + 1 until 5; c <- b + 1 until 5
    } yield {
      val i1 = Motif5.pairs.indexOf((a, b))
      val i2 = Motif5.pairs.indexOf((a, c))
      val i3 = Motif5.pairs.indexOf((b, c))
      s"b$i1 * b$i2 * b$i3"
    }).mkString(" + ")
    // The `ds` key folds the sorted degree list into a base-10 integer
    // (dl[1]*10^4 + ... below) and compares it against signatureOf's
    // digit STRING interpolated unquoted — collision-free ONLY because
    // connected 5-vertex degrees lie in 1..4 (single digits, leading
    // digit nonzero). Pinned here so reuse at another pattern size
    // fails loudly instead of silently misclassifying.
    require(Motif5.patterns.forall(m =>
        Motif5.signatureOf(m)._2.forall(c => c >= '1' && c <= '4')),
      "motif5 oracle degree-digit key assumes degrees in 1..4")
    val cols = Motif5.patterns.zip(Motif5.names).map { case (m, nm) =>
      val (ec, ds, tc) = Motif5.signatureOf(m)
      s"CAST(COALESCE(SUM(CASE WHEN ec = $ec AND ds = $ds AND tri = $tc " +
        s"THEN 1 END), 0) AS BIGINT) AS $nm"
    }.mkString(",\n  ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT src, dst FROM ($E) AS e0
       |  WHERE ((src // 8) + 131 * (dst // 8)) % 8 = 0),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM e),
       |arcs AS MATERIALIZED (
       |  SELECT u AS x, v AS y FROM und UNION ALL SELECT v, u FROM und),
       |s2 AS (SELECT u AS s1, v AS s2 FROM und),
       |${grow(3)},
       |${grow(4)},
       |${grow(5)},
       |b AS (SELECT
       |    $bits
       |  FROM s5 t),
       |c AS (SELECT ${(0 until 10).map(i => s"b$i").mkString(" + ")} AS ec,
       |  list_sort([${deg.mkString(", ")}]) AS dl,
       |  $tri AS tri FROM b),
       |d AS (SELECT ec,
       |  dl[1] * 10000 + dl[2] * 1000 + dl[3] * 100 + dl[4] * 10 + dl[5]
       |    AS ds, tri FROM c)
       |SELECT
       |  $cols
       |FROM d""".stripMargin
  }

  /** Convergence trace: (round, sse) with sse the S²-scaled squared
    * error BEFORE each round, plus the final state. */
  def mcSseTrace(rounds: Int): String = {
    val (body, _) = mcBody(rounds)
    val rows = (1 to rounds + 1).map(t =>
      s"""SELECT CAST($t AS BIGINT) AS round,
         | (SELECT CAST(SUM(err * err) AS BIGINT) FROM e$t) AS sse"""
        .stripMargin.replace("\n", ""))
      .mkString("\n  UNION ALL ")
    s"""WITH $body
       |SELECT * FROM (
       |  $rows) t ORDER BY round""".stripMargin
  }
}
