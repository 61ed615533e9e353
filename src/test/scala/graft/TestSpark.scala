package graft

import graft.exec.Materialize
import graft.operators.{Adjacency, GraphOps, Mining, Triangles}
import graft.sources.{Pages, WebGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared session + fixture graph for the suite (one JVM, Test/fork). */
object TestSpark {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixture: 400-page synthetic corpus (FIXTURES.md "small"-ish). */
  val N = 400L
  lazy val pages: DataFrame = Pages.synthesize(spark, N, seed = 42L,
    numPartitions = 6).cache()
  lazy val web: WebGraph = WebGraph.fromPages(spark, pages,
    blockSize = 64, numPartitions = 8)

  /** dense id -> original page id (urls embed the original id). */
  lazy val dictMap: Map[String, Long] =
    web.dict.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  lazy val origOf: Map[Long, Long] =
    dictMap.map { case (u, dense) => dense -> u.split("/p/")(1).toLong }
  lazy val denseOf: Map[Long, Long] = origOf.map(_.swap)

  lazy val edgeArray: Array[(Long, Long)] =
    web.edges.collect().map(r => (r.getLong(0), r.getLong(1)))
  lazy val vertexIds: Array[Long] =
    web.dict.select("id").collect().map(_.getLong(0)).sorted

  /** Symmetrized adjacency over the full vertex set (CC input). */
  lazy val symAdj: Adjacency = Adjacency.build(
    GraphOps.symmetrize(web.edges), blockSize = 64, numPartitions = 8,
    explicitVertices = Some(web.dict.select(col("id"))))

  lazy val symEdgeArray: Array[(Long, Long)] = {
    val s = edgeArray.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    s
  }

  /** The mining tier's triangle frames over an edge table: the degree
    * orientation, its sorted out-lists and the live triangle listing
    * (`Triangles.listingFrom`), each as the driver feeds them. */
  def triFrames(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val o = Materialize(Triangles.orientByDegree(edges))
    val olist = Materialize(Mining.outLists(o))
    (o, olist, Triangles.listingFrom(o, olist))
  }

  /** The cleaned symmetric edge set of `edges` and its degree table. */
  def symDeg(edges: DataFrame): (DataFrame, DataFrame) = {
    val sym = Materialize(GraphOps.symmetrize(GraphOps.clean(edges)))
    (sym, Materialize(Triangles.symDegrees(sym)))
  }

  def df(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }
}
