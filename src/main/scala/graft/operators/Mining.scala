package graft.operators

import graft.exec.{Materialize, Par}
import graft.functions.SortedArrays
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Graph-mining kernels — the reference's libpangolin-based Lonestar
 * mining apps (lonestar/mining/cpu/k-clique-listing/kcl.cpp:1-39 and
 * lonestar/mining/cpu/motif-counting/motif.cpp:1-37; SURVEY.md §2.6).
 * The pangolin runtime grows per-thread embedding worklists; the BSP
 * re-expression is the standard oriented-join cascade over the
 * degree-ordered edge set that triangle counting already uses
 * ([[Triangles.orientByDegree]]): any acyclic orientation lists each
 * k-clique exactly once (a clique has exactly one topological order),
 * and orienting from the lower-(degree, id) endpoint bounds every
 * join's per-key group by the largest oriented out-list — the hub-skew
 * guard at web scale.
 *
 * Cost shape: extending i-cliques to (i+1)-cliques is one equi-join to
 * propose the extension vertex plus (i−2) membership equi-joins to
 * verify the remaining edges — all shuffle hash joins over the oriented
 * edge set, no driver-side state, embedding count bounded by the true
 * clique count times the proposal fan-out (itself bounded by oriented
 * out-degree).
 */
object Mining {

  /** All k-cliques of the (cleaned, symmetrized) graph, one row per
    * clique as (v1 … vk) in degree-orientation order. k ≥ 2. No query
    * lists cliques; it is the independent reference the spec compares
    * [[kcliqueCount]] against. */
  def kcliques(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"clique order must be >= 2, got $k")
    val o = Materialize(Triangles.orientByDegree(edges))
    var cur = o.select(col("src").as("v1"), col("dst").as("v2"))
    for (i <- 3 to k) {
      // propose v_i along an oriented edge out of v_{i-1} …
      cur = cur.join(
        o.select(col("src").as(s"v${i - 1}"), col("dst").as(s"v$i")),
        s"v${i - 1}")
      // … then verify the edge from every earlier member (the join-on-
      // both-endpoints against the duplicate-free edge set is an exact
      // membership test: it matches at most one row and adds no columns)
      for (j <- 1 to i - 2) {
        cur = cur.join(
          o.select(col("src").as(s"v$j"), col("dst").as(s"v$i")),
          Seq(s"v$j", s"v$i"))
      }
    }
    cur.select((1 to k).map(i => col(s"v$i")): _*)
  }

  /** Sorted out-neighbor lists of a degree-oriented edge set — the
    * candidate-set cascade's working frame, shareable across clique
    * orders (k=4 and k=5 consume the same lists). */
  def outLists(o: DataFrame): DataFrame =
    o.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))

  /** `olist`, broadcast while it fits. Out-lists are V-sized (bounded by
    * the orientation); broadcasting them keeps every join against them
    * in one codegen stage with no exchange of the (huge) stream they
    * extend. The gate is on ESTIMATED BYTES (8 B/element + ~24 B row
    * overhead), not row count: a few million rows of long-array
    * out-lists can be multi-GB on a dense graph — past the broadcast
    * limit and an executor-OOM risk exactly where a row-count gate
    * would still pass. One job (the size estimate). */
  private[operators] def gatedOutLists(olist: DataFrame): DataFrame = {
    val st = olist.agg(count(lit(1)),
      coalesce(sum(size(col("nbrs"))), lit(0L))).first()
    val estBytes = st.getLong(1) * 8L + st.getLong(0) * 24L
    if (estBytes <= (256L << 20)) broadcast(olist) else olist
  }

  /** k-clique count (the kcl.cpp headline number) over a degree
    * orientation `o` and its [[outLists]] `olist` — one orientation + one
    * list build serve every clique order in a suite. Computed kClist-
    * style rather than by counting [[kcliques]] rows: the flat join
    * cascade materializes every (i-clique × proposal) row through a
    * shuffle, which on a dense graph is billions of rows by k = 5
    * (measured 20 minutes at sf0.1). Here each (i)-prefix carries its
    * pruned CANDIDATE SET C_i = N⁺(v1)∩…∩N⁺(vi) as a sorted array
    * column, so each extension is explode + one broadcast-joined
    * `array_intersect` (codegen'd) and the row count stays at the true
    * clique-prefix count — the candidate arrays shrink monotonically
    * toward the clique, never re-expanding to full out-lists. Out-lists
    * are bounded by the degree orientation (the hub-skew guard), so the
    * arrays stay small at web scale. */
  def kcliqueCount(o: DataFrame, k: Int, olist: DataFrame): Long = {
    require(k >= 2, s"clique order must be >= 2, got $k")
    if (k == 2) return o.count()
    val ol = gatedOutLists(olist)
    // C2 = N⁺(u) ∩ N⁺(v) per oriented edge; a vertex with no out-list
    // contributes an empty intersection, so inner joins dropping it are
    // exact for counting. Intersections are the codegen'd sorted merge
    // (SortedArrays) — array_intersect's per-row hash set was measured
    // at 200+ s of allocation for the 15M-triangle extension at sf0.1.
    val withLists = o
      .join(ol.select(col("src"), col("nbrs").as("nu")), "src")
      .join(ol.select(col("src").as("dst"), col("nbrs").as("nv")), "dst")
    if (k == 3)
      return withLists.agg(coalesce(sum(
          SortedArrays.intersectCount(col("nu"), col("nv"))), lit(0L)))
        .first().getLong(0)
    var cur = withLists
      .select(SortedArrays.intersect(col("nu"), col("nv")).as("cand"))
    for (_ <- 5 to k) // middle extensions still need the candidate SET
      cur = cur.select(explode(col("cand")).as("w"), col("cand"))
        .join(ol.select(col("src").as("w"), col("nbrs").as("nw")), "w")
        .select(SortedArrays.intersect(col("cand"), col("nw")).as("cand"))
    // final extension only needs the count — zero-allocation merge
    cur.select(explode(col("cand")).as("w"), col("cand"))
      .join(ol.select(col("src").as("w"), col("nbrs").as("nw")), "w")
      .agg(coalesce(sum(
        SortedArrays.intersectCount(col("cand"), col("nw"))), lit(0L)))
      .first().getLong(0)
  }

  /** Frequent subgraph mining over a vertex-labeled graph — the
    * reference's fsm.cpp (pangolin edge_miner, BFS pattern extension
    * with MNI domain support). Labels are lab(v) = v % `numLabels`
    * (deterministic, oracle-able). Pangolin ENUMERATES embeddings and
    * builds per-position domains; at web scale the embedding set of even
    * a wedge pattern is Σd² — so this engine computes the EXACT MNI
    * domains directly with O(E) grouped aggregates and never
    * materializes an embedding (the ScaleMine/DistGraph-style
    * formulation): a vertex is in a position's domain iff its local
    * neighborhood label counts satisfy the pattern, which for 1-edge and
    * 2-edge (wedge) patterns is a per-vertex predicate.
    *
    * Single-edge patterns (l1 ≤ l2): dom(l1-side) = #{u : lab u = l1,
    * ∃ nbr with lab l2}; support = min of the two sides (= both for
    * l1 = l2). Runs over the symmetric edge set `sym`. */
  def fsmEdge(sym: DataFrame, minSupport: Long,
      numLabels: Int = 4): DataFrame = {
    val el = sym
      .select((col("src") % numLabels).as("ls"),
        (col("dst") % numLabels).as("ld"), col("src"))
    val d = el.groupBy("ls", "ld").agg(countDistinct(col("src")).as("n"))
    d.join(d.select(col("ls").as("ld"), col("ld").as("ls"),
        col("n").as("n2")), Seq("ls", "ld"))
      .filter(col("ls") <= col("ld"))
      .select(col("ls").as("l1"), col("ld").as("l2"),
        least(col("n"), col("n2")).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Wedge (2-edge path) patterns (lc; l1 ≤ l2): center domain =
    * centers with lab lc holding ≥1 l1-neighbor and ≥1 l2-neighbor
    * (≥2 distinct l1-neighbors when l1 = l2); endpoint domain on the
    * l1 side = l1-labeled vertices adjacent to a center of lab lc that
    * can still supply the OTHER endpoint (so for l1 = l2 the center
    * needs a second same-label neighbor). Support = min of the three
    * domains. Runs over the symmetric edge set `sym`. */
  def fsmWedge(sym: DataFrame, minSupport: Long,
      numLabels: Int = 4): DataFrame = {
    // nc(c, l) = # distinct neighbors of c carrying label l
    val nc = sym.groupBy(col("src").as("c"),
        (col("dst") % numLabels).as("l"))
      .agg(countDistinct(col("dst")).as("cnt"))
      .transform(Materialize(_))
    // center domains per (lc, l1, l2): a self-join of nc on the center;
    // l1 = l2 needs cnt ≥ 2 on the single row
    val centers = nc.as("a")
      .join(nc.as("b"), col("a.c") === col("b.c") &&
        (col("a.l") < col("b.l") ||
          (col("a.l") === col("b.l") && col("a.cnt") >= 2)))
      .groupBy((col("a.c") % numLabels).as("lc"),
        col("a.l").as("l1"), col("b.l").as("l2"))
      .agg(countDistinct(col("a.c")).as("domc"))
    // endpoint domain, l1 side: u --(edge)-- c where c still has the l2
    // endpoint available (cnt ≥ 2 if u's label IS l2's label)
    def endpointDom(flip: Boolean): DataFrame = {
      val need = when(col("lu") === col("l"), 2L).otherwise(1L)
      sym.select(col("src").as("u"), (col("src") % numLabels).as("lu"),
          col("dst").as("c"))
        .join(nc, "c")
        .filter(col("cnt") >= need)
        .groupBy((col("c") % numLabels).as("lc"),
          (if (flip) col("l") else col("lu")).as("l1"),
          (if (flip) col("lu") else col("l")).as("l2"))
        .agg(countDistinct(col("u")).as(if (flip) "dom2" else "dom1"))
        .filter(col("l1") <= col("l2"))
    }
    centers
      .join(endpointDom(flip = false), Seq("lc", "l1", "l2"))
      .join(endpointDom(flip = true), Seq("lc", "l1", "l2"))
      .select(col("lc"), col("l1"), col("l2"),
        least(col("domc"), col("dom1"), col("dom2")).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** 3-vertex connected-motif census (motif.cpp's k=3 default): wedges
    * (paths of length 2, Σ_v C(d_v, 2) over undirected degrees),
    * triangles, and open wedges (wedges − 3·triangles — each triangle
    * closes three wedges). One row (wedges, triangles, open_wedges).
    * `triangles` is taken as a parameter so a suite that has already
    * counted them (the `triangles` query) shares the memo instead of
    * re-running the listing; the wedges come from the undirected degree
    * table `deg` (id, d). */
  def motif3(deg: DataFrame, triangles: Long): DataFrame = {
    val spark = deg.sparkSession
    import spark.implicits._
    val wedgeRow = deg.select(col("id"), col("d"))
      .agg(coalesce(sum(col("d") * (col("d") - 1)), lit(0L))).first()
    // Σ d(d−1) is even by construction; halve driver-side so both
    // engines do exact integer division
    val wedges = wedgeRow.getLong(0) / 2
    Seq((wedges, triangles, wedges - 3 * triangles))
      .toDF("wedges", "triangles", "open_wedges")
  }

  /** Edge-induced 4-cycle count — the reference's subgraph-listing app
    * for the rectangle pattern (lonestar/mining/cpu/subgraph-listing/
    * sgl_cycle.cpp:1-55, pangolin BFS extension; "listing edge-induced
    * subgraphs of a given pattern"). BSP form = the vertex-priority
    * wedge formulation: under any total order (here (degree, id)),
    * every 4-cycle has a unique maximum vertex u and a unique vertex w
    * opposite u; grouping wedges u–v–w with v ≺ u, w ≺ u by (u, w) and
    * summing C(n, 2) counts each 4-cycle exactly once. Enumerated
    * wedges are bounded by Σ_v outdeg⁺(v)·deg(v) — the Chiba–Nishizeki
    * O(α·E) bound — because hub CENTERS, which dominate Σ_v C(d_v, 2),
    * rank above their neighbors and are excluded. Runs over the
    * symmetric edge set `sym` and its degree table `deg`.
    *
    * The wedge enumeration is SPLIT by the center's rank (the
    * ESCAPE-style decomposition, Pinar et al. 2017) instead of
    * enumerating every (out-edge × all-neighbors) pair and filtering the
    * w ≻ u half away: for a wedge u–v–w with w ≺ u (both ≺ u because u
    * is the cycle max), either (a) v ≺ w too — both arms are ORIENTED
    * out of v, so the o ⋈ o self-join with the order test in the join
    * condition emits each out-pair exactly once (Σ_v C(outdeg⁺,2) rows)
    * — or (b) w ≺ v ≺ u — the arms are one in- and one out-arc of v,
    * where w ≺ u holds TRANSITIVELY and no degree compare is needed at
    * all (Σ_v indeg⁻·outdeg⁺ rows). Versus the single-stream form this
    * emits ~half the join output and drops the degree lookup + rank
    * filter from the bigger class. */
  def cycle4Count(sym: DataFrame, deg: DataFrame): Long = {
    val o = sym
      .join(deg.select(col("id").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("du")), "dst")
      .filter(col("ds") < col("du") ||
        (col("ds") === col("du") && col("src") < col("dst")))
      .select(col("src").as("v"), col("dst").as("u"), col("du"))
      .transform(Materialize(_))
    // (a) out-out wedges: u, w ∈ N⁺(v), (dw, w) ≺ (du, u)
    val outPairs = o
      .join(o.select(col("v"), col("u").as("w"), col("du").as("dw")), "v")
      .filter(col("dw") < col("du") ||
        (col("dw") === col("du") && col("w") < col("u")))
      .select(col("u"), col("w"))
    // (b) in-out wedges: w → v → u in the orientation ⇒ w ≺ v ≺ u
    val inOut = o.select(col("v").as("mid"), col("u"))
      .join(o.select(col("u").as("mid"), col("v").as("w")), "mid")
      .select(col("u"), col("w"))
    val pairs = outPairs.unionAll(inOut)
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("n"))
    pairs.agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)))
      .first().getLong(0)
  }

  /** Edge-induced diamond count (sgl_diamond.cpp) = unordered pairs of
    * distinct triangles sharing an edge: enumerate the triangle listing
    * once (O(T)), credit each triangle to its three edges, and sum
    * C(t_e, 2) over per-edge triangle counts — the shared edge (the
    * diamond's chord) identifies each diamond exactly once. `tris` is
    * the triangle listing ([[Triangles.listingFrom]]). */
  def diamondCount(tris: DataFrame): Long = {
    // each oriented pair appears once in o, so (src,dst) of the three
    // member edges is a canonical per-edge key
    val credits = tris.select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("b").as("x"), col("c").as("y")),
        struct(col("a").as("x"), col("c").as("y")))).as("e"))
      .select(col("e.x"), col("e.y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n"))
    credits.agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)))
      .first().getLong(0)
  }

  /** 4-vertex connected-motif census (motif.cpp k=4: `num_patterns[3] =
    * {2, 6, 21}` — the 6 connected 4-vertex graphs), INDUCED counts via
    * inclusion–exclusion over subgraph (non-induced) counts; every
    * ingredient is an O(E) aggregate or one of the already-memoized
    * heavy scalars (`triangles`, `cliques4` = kcl k=4, `cycles4Sub` =
    * [[cycle4Count]], `diamondsSub` = [[diamondCount]],
    * `triPerVertex` = the per-vertex triangle credits):
    *
    *   diamond = D_sub − 6·K4            (each K4 holds 6 edge-sharing
    *                                      triangle pairs)
    *   cycle4  = C4_sub − D_sub + 3·K4
    *   paw     = paw_sub − 4·D_sub + 12·K4
    *   claw    = star_sub − paw − 2·diamond − 4·K4
    *   path4   = p4_sub − 4·cycle4 − 2·paw − 6·diamond − 12·K4
    *
    * with paw_sub = Σ_v t_v·(d_v − 2), star_sub = Σ_v C(d_v, 3) and
    * p4_sub = Σ_{edges} (d_u − 1)(d_v − 1) − 3·T. The identities are
    * cross-checked against a brute-force induced census in the spec.
    * The O(E) aggregates run over the symmetric edge set `sym` and its
    * degree table `deg`. */
  def motif4(sym: DataFrame, deg: DataFrame, triangles: Long,
      cliques4: Long, cycles4Sub: Long, diamondsSub: Long,
      triPerVertex: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val pawSub = triPerVertex.join(deg, "id")
      .agg(coalesce(sum(col("triangles") * (col("d") - 2)), lit(0L)))
      .first().getLong(0)
    val starSub = deg
      .agg(coalesce(sum(expr("d * (d - 1) * (d - 2) DIV 6")), lit(0L)))
      .first().getLong(0)
    val p4Walks = sym.filter(col("src") < col("dst"))
      .join(deg.select(col("id").as("src"), col("d").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("dv")), "dst")
      .agg(coalesce(sum((col("du") - 1) * (col("dv") - 1)), lit(0L)))
      .first().getLong(0)
    val p4Sub = p4Walks - 3 * triangles
    val diamond = diamondsSub - 6 * cliques4
    val cycle4 = cycles4Sub - diamondsSub + 3 * cliques4
    val paw = pawSub - 4 * diamondsSub + 12 * cliques4
    val claw = starSub - paw - 2 * diamond - 4 * cliques4
    val path4 = p4Sub - 4 * cycle4 - 2 * paw - 6 * diamond - 12 * cliques4
    Seq((path4, claw, cycle4, paw, diamond, cliques4))
      .toDF("path4", "star4", "cycle4", "tailed_tri4", "diamond4",
        "clique4")
  }

  /** Label for the 3-edge FSM tier: (id >> 3) % numLabels. NOT id %
    * numLabels (the 1/2-edge tier's label): the fixture's edges connect
    * vertices of the SAME id%8 residue class by construction, so id%4
    * is monochromatic along every edge and a multi-vertex pattern over
    * it would verify nothing; the slot part (id/8) varies across edges. */
  private def lab3(c: Column, numLabels: Int): Column =
    shiftright(c, 3) % numLabels

  /** FSM 3-edge tier, triangle patterns (fsm.cpp with -k=3; pangolin
    * edge_miner grows embeddings to arbitrary size ≥ 2, fsm.cpp:15-19):
    * for sorted label triple (l1 ≤ l2 ≤ l3), the MNI domain of an
    * l-labeled slot is the set of l-labeled vertices lying in a
    * triangle whose corner labels form exactly that multiset — one O(T)
    * pass over the triangle listing, no embedding worklists. Support =
    * min over slot domains (same-label slots share a domain). `triList`
    * is the triangle listing ([[Triangles.listingFrom]]). */
  def fsm3Triangle(triList: DataFrame, minSupport: Long,
      numLabels: Int = 4): DataFrame = {
    def lb(c: org.apache.spark.sql.Column) = lab3(c, numLabels)
    val tris = triList
      .select(col("a"), col("b"), col("c"),
        lb(col("a")).as("la"), lb(col("b")).as("lbb"), lb(col("c")).as("lc"))
      .withColumn("p1", least(col("la"), col("lbb"), col("lc")))
      .withColumn("p3", greatest(col("la"), col("lbb"), col("lc")))
      .withColumn("p2",
        col("la") + col("lbb") + col("lc") - col("p1") - col("p3"))
    val corners = tris.select(col("p1"), col("p2"), col("p3"),
        explode(array(
          struct(col("a").as("v"), col("la").as("lv")),
          struct(col("b").as("v"), col("lbb").as("lv")),
          struct(col("c").as("v"), col("lc").as("lv")))).as("e"))
      .select(col("p1"), col("p2"), col("p3"), col("e.v"), col("e.lv"))
      .distinct()
    val dom = corners.groupBy("p1", "p2", "p3", "lv")
      .agg(count(lit(1)).as("n"))
    val pats = dom.select("p1", "p2", "p3").distinct()
    def slot(i: Int) = dom.select(col("p1"), col("p2"), col("p3"),
      col("lv").as(s"j$i"), col("n").as(s"n$i"))
    pats
      .join(slot(1), Seq("p1", "p2", "p3")).filter(col("j1") === col("p1"))
      .join(slot(2), Seq("p1", "p2", "p3")).filter(col("j2") === col("p2"))
      .join(slot(3), Seq("p1", "p2", "p3")).filter(col("j3") === col("p3"))
      .select(col("p1").as("l1"), col("p2").as("l2"), col("p3").as("l3"),
        least(col("n1"), col("n2"), col("n3")).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** tno(v, x, y): ordered labeled adjacent-neighbor-pair counts at v —
    * one pass over the triangle listing (eagerly checkpointed). */
  private def tnoFrame(triList: DataFrame, numLabels: Int): DataFrame = {
    def lb(c: org.apache.spark.sql.Column) = lab3(c, numLabels)
    triList.select(explode(array(
        struct(col("a").as("v"), lb(col("b")).as("x"), lb(col("c")).as("y")),
        struct(col("a").as("v"), lb(col("c")).as("x"), lb(col("b")).as("y")),
        struct(col("b").as("v"), lb(col("a")).as("x"), lb(col("c")).as("y")),
        struct(col("b").as("v"), lb(col("c")).as("x"), lb(col("a")).as("y")),
        struct(col("c").as("v"), lb(col("a")).as("x"), lb(col("b")).as("y")),
        struct(col("c").as("v"), lb(col("b")).as("x"), lb(col("a")).as("y"))))
        .as("t"))
      .select(col("t.v"), col("t.x"), col("t.y"))
      .groupBy("v", "x", "y").agg(count(lit(1)).as("n"))
      .transform(Materialize(_))
  }

  /** FSM 3-edge tier, path patterns (l1–l2–l3–l4, canonical under
    * reversal): EXACT MNI domains with O(E·labels + T) aggregates and
    * zero embedding enumeration — the fixture has 2.3·10^10 path walks
    * at sf0.1, so enumeration is not an option (and is exactly what the
    * pangolin embedding engine would do). A vertex is in a slot's
    * domain iff its exact embedding count there is positive; the count
    * is the raw walk count minus the walks that violate vertex
    * distinctness, which partition cleanly (for slot 1, walks u-b-c-d:
    * {c = u} ∪ {c ≠ u, d = b} ∪ {c ≠ u, d = u}) into closed forms over
    * three reusable frames: nc(v,l) = labeled neighbor counts,
    * nn(v,l1,l2) = Σ_{y~v, L(y)=l1} nc(y,l2), and tno(v,l1,l2) =
    * ordered adjacent-neighbor-pair (labeled triangle) counts at v.
    * Cross-checked against full enumeration in the spec.
    *
    * Runs over the symmetric edge set `sym` and the triangle listing
    * `triList`. `triList` is BY-NAME: the (nc → nn) chain depends only
    * on `sym`, so its eager checkpoints overlap the (possibly still-
    * building) triangle listing and the tno pass on a second thread —
    * the two pipelines are independent until the final closed-form
    * joins (guide §2.6, overlap independent jobs). */
  def fsm3Path(sym: DataFrame, triList: => DataFrame, minSupport: Long,
      numLabels: Int = 4): DataFrame = {
    def lb(c: org.apache.spark.sql.Column) = lab3(c, numLabels)
    val ((nc, nn), tno) = Par.both({
      val nc = sym.groupBy(col("src").as("v"), lb(col("dst")).as("l"))
        .agg(count(lit(1)).as("cnt")).transform(Materialize(_))
      val nn = sym.select(col("src").as("x"), col("dst").as("y"))
        .join(nc.select(col("v").as("y"), col("l").as("l2"),
          col("cnt").as("c2")), "y")
        .groupBy(col("x"), lb(col("y")).as("l1"), col("l2"))
        .agg(sum(col("c2")).as("s")).transform(Materialize(_))
      (nc, nn)
    }, tnoFrame(triList, numLabels))
    def z(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
    // slot-1 walk counts W(u, β, γ, δ) = Σ_{b~u, L(b)=β} nn(b, γ, δ)
    val w1 = sym.select(col("src").as("u"), col("dst").as("b"))
      .join(nn.select(col("x").as("b"), col("l1").as("g"),
        col("l2").as("dl"), col("s")), "b")
      .groupBy(col("u"), lb(col("b")).as("bl"), col("g"), col("dl"))
      .agg(sum(col("s")).as("w"))
    val c1 = w1
      .join(nc.select(col("v").as("u"), col("l").as("bl"),
        col("cnt").as("ncb")), Seq("u", "bl"), "left")
      .join(nc.select(col("v").as("u"), col("l").as("dl"),
        col("cnt").as("ncd")), Seq("u", "dl"), "left")
      .join(nn.select(col("x").as("u"), col("l1").as("bl"),
        col("l2").as("g"), col("s").as("nnbg")), Seq("u", "bl", "g"), "left")
      .join(tno.select(col("v").as("u"), col("x").as("bl"),
        col("y").as("g"), col("n").as("tbg")), Seq("u", "bl", "g"), "left")
      .withColumn("lu", lb(col("u")))
      .withColumn("cnt1", col("w")
        - when(col("lu") === col("g"), z(col("ncb")) * z(col("ncd")))
            .otherwise(0L)
        - when(col("bl") === col("dl"), z(col("nnbg"))
            - when(col("lu") === col("g"), z(col("ncb"))).otherwise(0L))
            .otherwise(0L)
        - when(col("lu") === col("dl"), z(col("tbg"))).otherwise(0L))
    val dom1 = c1.filter(col("cnt1") > 0)
      .groupBy(col("lu").as("l1"), col("bl").as("l2"), col("g").as("l3"),
        col("dl").as("l4"))
      .agg(count(lit(1)).as("n"))
    // slot-2 counts M(b, α, γ, δ) = nc(b, α)·nn(b, γ, δ) minus
    // {a = c} ∪ {a ≠ c, d = b} ∪ {a ≠ c, d ≠ b, a = d}
    val c2 = nc.select(col("v").as("b"), col("l").as("al"),
        col("cnt").as("nca"))
      .join(nn.select(col("x").as("b"), col("l1").as("g"),
        col("l2").as("dl"), col("s")), "b")
      .join(nc.select(col("v").as("b"), col("l").as("g"),
        col("cnt").as("ncg")), Seq("b", "g"), "left")
      .join(tno.select(col("v").as("b"), col("x").as("g"),
        col("y").as("al"), col("n").as("tga")), Seq("b", "g", "al"), "left")
      .withColumn("lbv", lb(col("b")))
      .withColumn("cnt2", col("nca") * col("s")
        - when(col("al") === col("g"), col("s")).otherwise(0L)
        - when(col("lbv") === col("dl"), col("nca") * z(col("ncg"))
            - when(col("al") === col("g"), z(col("ncg"))).otherwise(0L))
            .otherwise(0L)
        - when(col("al") === col("dl"), z(col("tga"))).otherwise(0L))
    val dom2 = c2.filter(col("cnt2") > 0)
      .groupBy(col("al").as("l1"), col("lbv").as("l2"), col("g").as("l3"),
        col("dl").as("l4"))
      .agg(count(lit(1)).as("n"))
    // support = min over the four slots; slots 3/4 are slots 2/1 of the
    // reversed pattern. Canonical form: (l1,l2,l3,l4) ≤ reversed.
    def rev(d: DataFrame, out: String) = d.select(col("l4").as("l1"),
      col("l3").as("l2"), col("l2").as("l3"), col("l1").as("l4"),
      col("n").as(out))
    dom1.withColumnRenamed("n", "n1")
      .join(dom2.withColumnRenamed("n", "n2"), Seq("l1", "l2", "l3", "l4"))
      .join(rev(dom2, "n3"), Seq("l1", "l2", "l3", "l4"))
      .join(rev(dom1, "n4"), Seq("l1", "l2", "l3", "l4"))
      .filter(struct(col("l1"), col("l2"), col("l3"), col("l4")) <=
        struct(col("l4"), col("l3"), col("l2"), col("l1")))
      .select(col("l1"), col("l2"), col("l3"), col("l4"),
        least(col("n1"), col("n2"), col("n3"), col("n4")).as("support"))
      .filter(col("support") >= minSupport)
  }
}
