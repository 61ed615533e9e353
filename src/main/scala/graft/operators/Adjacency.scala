package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * CSR-blocked adjacency — the Spark-native stand-in for the reference's
 * compressed-sparse-row edge arrays (LC_CSR_Graph.h:143-175) *and* its
 * edge tiling of high-degree vertices (EDGE_TILE_SIZE=128/512,
 * PageRank-push.cpp:143-154; ConnectedComponents.cpp:557-579).
 *
 * One row per (source, tile): `(src: Long, deg: Long, dsts: Array[Long])`
 * where `deg` is the FULL out-degree of `src` (across all of its tiles) and
 * `dsts` holds at most `blockSize` neighbors. Hubs therefore become several
 * rows, so no single task owns a whole hub's edge list — the skew-split
 * demanded by the north rule. The frame is hash-partitioned by `src` and
 * persisted, so the per-iteration join against the vertex-state table
 * reuses the same exchange every superstep (only the O(V) state side
 * re-shuffles).
 */
final case class Adjacency(
    blocks: DataFrame,    // (src, deg, dsts) — persisted, partitioned by src
    vertices: DataFrame,  // (id) — persisted, partitioned by id
    noInbound: DataFrame, // (id) with in-degree 0 — persisted (static)
    numVertices: Long,
    numEdges: Long) {

  /** The blocked-CSR gather: joins `frontier` (keyed by `id`) to its
    * vertices' blocks and emits one row per out-edge, `id` = the edge's
    * dst, followed by `msgs` over the joined block and frontier row. A msg
    * over a column both sides carry names its side (`blocks("deg")`). */
  def scatter(frontier: DataFrame, msgs: Column*): DataFrame =
    blocks.join(frontier, blocks("src") === frontier("id"))
      .select(explode(col("dsts")).as("id") +: msgs: _*)

  def unpersist(): Unit = {
    blocks.unpersist()
    vertices.unpersist()
    noInbound.unpersist()
  }
}

object Adjacency {

  /** Persist the blocked CSR to disk — the engine's analog of the
    * reference's binary `.gr` file (FileGraph.cpp:202-252): build once,
    * mmap/load many times. Layout: three parquet dirs under `path`. */
  def save(adj: Adjacency, path: String): Unit = {
    adj.blocks.write.mode("overwrite").parquet(s"$path/blocks")
    adj.vertices.write.mode("overwrite").parquet(s"$path/vertices")
    adj.noInbound.write.mode("overwrite").parquet(s"$path/no_inbound")
  }

  /** Load a saved blocked CSR (re-partitioned/persisted like build). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      numPartitions: Int = 32): Adjacency = {
    val blocks = spark.read.parquet(s"$path/blocks")
      .repartition(numPartitions, col("src"))
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = spark.read.parquet(s"$path/vertices")
      .repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val noIn = spark.read.parquet(s"$path/no_inbound")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nV = verts.count()
    val nE = blocks.agg(sum(size(col("dsts")))).first().getLong(0)
    Adjacency(blocks, verts, noIn, nV, nE)
  }

  /**
   * Build from a clean edge table (no self-loops / dup edges).
   * `numPartitions` sizes the stable hash partitioning used for every
   * iterative join; at cluster scale this is O(total cores).
   *
   * An edge table with a `w` column builds WEIGHTED blocks: they
   * additionally carry a `ws` array ALIGNED with `dsts` — the Spark form
   * of the reference's `edgeData` parallel array (LC_CSR_Graph.h:169-175;
   * typed edge payloads written by graph-convert,
   * graph-convert.cpp:118-131). Weighted kernels (SSSP) explode
   * `arrays_zip(dsts, ws)`. Any other column is ignored.
   */
  def build(
      edges: DataFrame,
      blockSize: Int = 1024,
      numPartitions: Int = 32,
      explicitVertices: Option[DataFrame] = None): Adjacency = {
    val weighted = edges.columns.contains("w")

    // Two-phase CSR build like the reference's degree-count → scatter
    // (graph-convert.cpp:3027-3050): degree pass, then tile assignment
    // BEFORE grouping, so a 10^8-degree hub never materializes as one
    // collect_list row — each (src, tile) group holds ~blockSize neighbors.
    // The tile is pmod(xxhash64(dst), ntiles), not pmod(dst, ntiles): raw
    // dst residues can collapse (a hub whose targets share a residue class
    // would re-create one giant block); hashing spreads any dst set
    // uniformly. Still deterministic, so block contents are invariant to
    // input partitioning (sort_array canonicalizes within-block order; the
    // weighted form sorts (dst, w) structs, keeping ws aligned with dsts).
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val tiled = edges
      .join(deg, "src")
      .withColumn("tile",
        pmod(xxhash64(col("dst")), ceil(col("deg") / blockSize)))
      .groupBy(col("src"), col("tile"), col("deg"))
    val grouped =
      if (weighted)
        tiled.agg(sort_array(collect_list(struct(col("dst"), col("w"))))
            .as("nb"))
          .select(col("src"), col("deg"), col("nb.dst").as("dsts"),
            col("nb.w").as("ws"))
      else
        tiled.agg(sort_array(collect_list(col("dst"))).as("dsts"))
          .select(col("src"), col("deg"), col("dsts"))
    val blocks = grouped
      .repartition(numPartitions, col("src"))
      // cache SORTED within partitions: the per-superstep join then never
      // re-sorts the O(E) side (SMJ reuses the cached ordering, and with
      // preferSortMergeJoin=false the planner picks a shuffled hash join
      // that streams this side against a hash of the O(V) state)
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Vertex set: endpoint ids, or an explicit table when the graph has
    // isolated vertices (e.g. pages with no links and no in-links).
    val verts = explicitVertices.getOrElse(GraphOps.vertices(edges))
      .select(col("id"))
      .repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // static zero-in-degree set: lets pull-topo PageRank's unchecked
    // supersteps REPLACE a vertices-left-join with a shuffle-free union of
    // constant base ranks (sums already covers every indeg>0 vertex).
    val noIn = verts
      .join(edges.select(col("dst").as("id")).distinct(), Seq("id"),
        "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)

    val nV = verts.count()
    val nE = blocks.agg(sum(size(col("dsts")))).first().getLong(0)
    Adjacency(blocks, verts, noIn, nV, nE)
  }
}
