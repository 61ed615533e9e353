package graft.sources

import graft.exec.Materialize
import graft.operators.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic edge table derived from the driver's lineitem parquet —
 * the stand-in for a pre-densified `.gr` file (FileGraph.cpp:47,158-176)
 * that BOTH the Spark engine and the DuckDB oracle can reproduce from the
 * same input with plain arithmetic (no engine-specific hash functions).
 *
 * Construction: src/dst ids in [0, 4000) laid out as 8 residue classes of
 * 500 slots; both endpoints of an edge share `l_orderkey % 8`, so the graph
 * has ≥ 8 connected components by construction (multiple components incl.
 * a per-class giant one — the CC/Afforest-style shape the fixtures call
 * for). Self-loops and duplicate edges are then dropped (gr2cgr).
 */
object TpchGraph {

  /** Clean directed edge table (src: Long, dst: Long). */
  def edges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val raw = li.select(
      ((col("l_orderkey") % 8) + lit(8L) * (col("l_partkey") % 500))
        .cast("long").as("src"),
      ((col("l_orderkey") % 8) + lit(8L) * ((col("l_suppkey") * 13L) % 500))
        .cast("long").as("dst"))
    GraphOps.clean(raw)
  }

  /** Weighted directed fixture: [[edges]] + GraphOps.attachWeights'
    * deterministic [1, 97] weight (the gr2randomweightgr analog — not
    * symmetric under src/dst swap; undirected fixtures apply it to the
    * ordered pair). */
  def weightedEdges(spark: SparkSession, sfDir: String): DataFrame =
    GraphOps.attachWeights(edges(spark, sfDir))

  /** Weighted undirected fixture for MST: upper-oriented symmetrized
    * [[edges]] with the weight on the ordered pair (symmetric by
    * construction). */
  def weightedUndirected(spark: SparkSession, sfDir: String): DataFrame =
    GraphOps.attachWeights(GraphOps.orientUpper(edges(spark, sfDir)))

  /** Bipartite ratings fixture for matrix completion: customer × part
    * with a deterministic 1-5 rating from the order quantity
    * (matrixCompletion.cpp loads exactly this shape as a bipartite .gr:
    * users = one side, items = the other, edge data = rating). */
  def ratings(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .agg(min(col("l_quantity").cast("long") % 5 + 1).as("r"))
  }

  /** [[ratings]] as SQL. */
  val ratingsSql: String =
    """SELECT o.o_custkey AS u, l.l_partkey AS i,
      |       CAST(MIN(CAST(l.l_quantity AS BIGINT) % 5 + 1) AS BIGINT) AS r
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_custkey, l.l_partkey""".stripMargin

  /** Points-to constraint fixture (PointsTo.cpp readConstraints): the
    * directed edge table split by (src+dst)%8 into Copy / Load / Store
    * constraints (classes 0/1/2 — a 3/8 constraint density; real
    * constraint graphs are SPARSE relative to this fixture's saturated
    * sf0.1 edge table, and Andersen's is famously near-cubic, so the
    * fixture keeps the closure tractable while still exercising every
    * rule), with AddressOf seeds o_v = v + 1,000,000 for every fifth
    * vertex. Returns (addressOf(var,obj), copies(src,dst), loads(q,p),
    * stores(q,p)). */
  def ptaConstraints(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = Materialize(edges(spark, sfDir))
    val vs = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    val addressOf = vs.filter(col("id") % 5 === 0)
      .select(col("id").as("var"), (col("id") + 1000000L).as("obj"))
    val copies = e.filter((col("src") + col("dst")) % 8 === 0)
      .select(col("src"), col("dst"))
    val loads = e.filter((col("src") + col("dst")) % 8 === 1)
      .select(col("src").as("q"), col("dst").as("p"))
    val stores = e.filter((col("src") + col("dst")) % 8 === 2)
      .select(col("src").as("q"), col("dst").as("p"))
    (addressOf, copies, loads, stores)
  }

  /** The same derivation as ANSI SQL (DuckDB oracle side). */
  val edgesSql: String =
    """SELECT DISTINCT src, dst FROM (
      |  SELECT CAST((l_orderkey % 8) + 8 * (l_partkey % 500) AS BIGINT) AS src,
      |         CAST((l_orderkey % 8) + 8 * ((l_suppkey * 13) % 500) AS BIGINT) AS dst
      |  FROM lineitem) AS raw
      |WHERE src <> dst""".stripMargin

  /** Symmetrized variant (gr2sgr) as SQL. */
  val symEdgesSql: String =
    s"""SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM ($edgesSql) AS e0
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM ($edgesSql) AS e1) AS u""".stripMargin

  /** [[weightedEdges]] as SQL. */
  val weightedEdgesSql: String =
    s"""SELECT src, dst, CAST(1 + (src * 7 + dst * 13) % 97 AS BIGINT) AS w
       |FROM ($edgesSql) AS e""".stripMargin

  /** [[weightedUndirected]] as SQL (MST fixture). */
  val weightedUndirectedSql: String =
    s"""SELECT src, dst, CAST(1 + (src * 7 + dst * 13) % 97 AS BIGINT) AS w
       |FROM ($symEdgesSql) AS s WHERE src < dst""".stripMargin
}
