package graft.sources

import graft.exec.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Long-tail text converters from the reference's `graph-convert` tool:
 * DIMACS shortest-path files (dimacs2gr / gr2dimacs,
 * graph-convert.cpp:2123-2214,2446-2471), node lists (nodelist2gr,
 * graph-convert.cpp:781-850), adjacency lists (gr2adjacencylist,
 * graph-convert.cpp:853-878) and neo4j bulk-import CSVs (gr2neo4j,
 * graph-convert.cpp:2595-2660). Each is a projection/explode over the
 * edge table plus a text/csv read — the heavy lifting (parsing, schema,
 * partitioned IO) is Spark's.
 */
object TextFormats {

  /** gr2dimacs (graph-convert.cpp:2446-2471): `p sp <n> <m>` problem
    * line, then 1-INDEXED `a src dst w` arc lines (DIMACS weights are
    * integers — the reference reads int32, graph-convert.cpp:2177). */
  def writeDimacs(edges: DataFrame, path: String): Unit = {
    val spark = edges.sparkSession
    import spark.implicits._
    val maxRow = edges.agg(greatest(max(col("src")), max(col("dst")))).first()
    val n = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) + 1
    val m = edges.count()
    // explicit ordinal + single-partition sort (same pattern as
    // writeMtxWeighted): coalesce(1) over a union does NOT guarantee the
    // header partition lands first in the file, and external DIMACS
    // consumers require the p-line before any arc line
    val header = Seq((0L, s"p sp $n $m")).toDF("ord", "value")
    val body = edges.select(lit(1L).as("ord"),
      concat_ws(" ", lit("a"), col("src") + 1, col("dst") + 1,
        col("w").cast("long")).as("value"))
    header.unionAll(body)
      .repartition(1).sortWithinPartitions("ord")
      .select("value").write.mode("overwrite").text(path)
  }

  /** dimacs2gr (graph-convert.cpp:2123-2214): arc lines start with `a`,
    * everything else (comments `c`, the `p` problem line) is skipped —
    * exactly the reference's "if tmp != a, skipLine" loop. 0-indexed
    * (src, dst, w). */
  def readDimacs(spark: SparkSession, path: String): DataFrame = {
    val parts = split(col("value"), " ")
    spark.read.text(path)
      .filter(col("value").startsWith("a "))
      .select((parts.getItem(1).cast("long") - 1).as("src"),
        (parts.getItem(2).cast("long") - 1).as("dst"),
        parts.getItem(3).cast("long").as("w"))
  }

  /** Node-list export (inverse of nodelist2gr, graph-convert.cpp:781-850):
    * one `src n_neighbors dst...` line per source, 0-indexed, neighbors
    * sorted for a canonical file. */
  def writeNodelist(edges: DataFrame, path: String): Unit =
    edges.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("dsts"))
      .select(concat_ws(" ", col("src"), size(col("dsts")),
        array_join(col("dsts"), " ")).as("value"))
      .write.mode("overwrite").text(path)

  /** nodelist2gr (graph-convert.cpp:781-850): `src n_neighbors dst...`
    * lines, 0-indexed. The count field is positional (field 2); sources
    * with zero neighbors contribute no edges. */
  def readNodelist(spark: SparkSession, path: String): DataFrame = {
    val parts = split(col("value"), " ")
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(parts.getItem(0).cast("long").as("src"),
        explode(slice(parts, lit(3), greatest(size(parts) - 2, lit(0)))).as("d"))
      .select(col("src"), col("d").cast("long").as("dst"))
  }

  /** gr2adjacencylist (graph-convert.cpp:853-878): one `src dst dst...`
    * line per source (no count field), 0-indexed, neighbors sorted. */
  def writeAdjacencyList(edges: DataFrame, path: String): Unit =
    edges.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("dsts"))
      .select(concat_ws(" ", col("src"), array_join(col("dsts"), " "))
        .as("value"))
      .write.mode("overwrite").text(path)

  /** Adjacency-list ingest: everything after the first field is a
    * neighbor. */
  def readAdjacencyList(spark: SparkSession, path: String): DataFrame = {
    val parts = split(col("value"), " ")
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(parts.getItem(0).cast("long").as("src"),
        explode(slice(parts, lit(2), greatest(size(parts) - 1, lit(0)))).as("d"))
      .select(col("src"), col("d").cast("long").as("dst"))
  }

  /** Global line numbers of a SINGLE positional text file (pbbs /
    * svmlight / metis are token-stream or line-positional formats).
    * textFile partitions are ordered by byte offset and zipWithIndex
    * respects partition order, so the index is the file line number —
    * the one honest use of an RDD here. `keepEmpty` matters for
    * line-positional formats (metis: an isolated vertex IS an empty
    * line). */
  private def numberedLines(spark: SparkSession, path: String,
      keepEmpty: Boolean = false): DataFrame = {
    import spark.implicits._
    val df = spark.sparkContext.textFile(path)
      .zipWithIndex().map { case (l, i) => (i, l.trim) }
      .toDF("idx", "tok")
    if (keepEmpty) df else df.filter(length(col("tok")) > 0)
  }

  /** gr2metis (graph-convert.cpp:2669-2710): `n m` header (m counts each
    * undirected edge once), then one line per vertex 0..n-1 — the vertex
    * id is the LINE NUMBER — listing its 1-indexed neighbors; self-loops
    * dropped. Input must be symmetric (like the reference's). */
  def writeMetis(edges: DataFrame, path: String): Unit = {
    val spark = edges.sparkSession
    import spark.implicits._
    val nonSelf = edges.filter(col("src") =!= col("dst"))
    val maxRow = nonSelf.agg(greatest(max(col("src")), max(col("dst"))))
      .first()
    val n = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) + 1
    val m = nonSelf.count() / 2
    val header = Seq((0L, s"$n $m")).toDF("ord", "value")
    val rows = spark.range(n).select(col("id"))
      .join(nonSelf.groupBy(col("src").as("id"))
        .agg(sort_array(collect_list(col("dst") + 1)).as("nbrs")),
        Seq("id"), "left")
      .select((col("id") + 1).as("ord"),
        coalesce(array_join(col("nbrs"), " "), lit("")).as("value"))
    header.unionAll(rows)
      .repartition(1).sortWithinPartitions("ord")
      .select("value").write.mode("overwrite").text(path)
  }

  /** METIS ingest: vertex = line number − 1; neighbors 1-indexed. Empty
    * lines are isolated vertices (kept for the position count, emitting
    * no edges). */
  def readMetis(spark: SparkSession, path: String): DataFrame = {
    val lines = Materialize(numberedLines(spark, path, keepEmpty = true))
    val parts = split(col("tok"), " ")
    lines.filter(col("idx") >= 1 && length(col("tok")) > 0)
      .select((col("idx") - 1).as("src"), explode(parts).as("t"))
      .select(col("src"), (col("t").cast("long") - 1).as("dst"))
  }

  /** PBBS AdjacencyGraph export (inverse of pbbs2gr,
    * graph-convert.cpp:2235-2290): token stream `AdjacencyGraph`, n, m,
    * n CSR start offsets, m destination ids — one token per line,
    * vertices 0..maxId. Only the final text write funnels through one
    * partition (a positional single file is inherently serial); the CSR
    * offsets prefix-sum runs TIERED (range-partition + per-partition
    * window + broadcast partition totals, [[graft.plans.Ranking]]) —
    * the former `Window.orderBy(id)` with no partitionBy pushed all n
    * offsets through a single window task. */
  def writePbbs(edges: DataFrame, path: String): Unit = {
    val spark = edges.sparkSession
    import spark.implicits._
    val maxRow = edges.agg(greatest(max(col("src")), max(col("dst")))).first()
    val n = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) + 1
    val m = edges.count()
    val header = Seq((0L, 0L, "AdjacencyGraph"), (1L, 0L, n.toString),
      (2L, 0L, m.toString)).toDF("ord", "seq", "value")
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val offsets = graft.plans.Ranking
      .tieredCumSum(
        spark.range(n).select(col("id"))
          .join(deg, Seq("id"), "left")
          .select(col("id"), coalesce(col("d"), lit(0L)).as("d")),
        Seq(col("id").asc), "d", "cum")
      .select(lit(3L).as("ord"), col("id").as("seq"),
        (col("cum") - col("d")).cast("string").as("value"))
    val body = edges
      .select(lit(4L).as("ord"),
        (col("src") * (n + 1) + col("dst")).as("seq"),
        col("dst").cast("string").as("value"))
    header.unionAll(offsets).unionAll(body)
      .repartition(1).sortWithinPartitions("ord", "seq")
      .select("value").write.mode("overwrite").text(path)
  }

  /** pbbs2gr (graph-convert.cpp:2235-2290): positional token stream —
    * offsets at lines [3, 3+n), destinations at [3+n, 3+n+m); edge j
    * belongs to the vertex whose offset range contains j. */
  def readPbbs(spark: SparkSession, path: String): DataFrame = {
    val lines = Materialize(numberedLines(spark, path))
    val head = lines.filter(col("idx") < 3).orderBy("idx")
      .collect().map(_.getString(1))
    require(head.headOption.contains("AdjacencyGraph"),
      s"unknown pbbs header: ${head.headOption}")
    val n = head(1).toLong
    val m = head(2).toLong
    val starts = lines.filter(col("idx") >= 3 && col("idx") < 3 + n)
      .select((col("idx") - 3).as("v"), col("tok").cast("long").as("start"))
    val nexts = starts.select((col("v") - 1).as("v"), col("start").as("end"))
    val spans = starts.join(nexts, Seq("v"), "left")
      .select(col("v"), col("start"),
        (coalesce(col("end"), lit(m)) - col("start")).as("d"))
      .filter(col("d") > 0)
    val posToV = spans
      .select(col("v"),
        explode(sequence(col("start"), col("start") + col("d") - 1)).as("pos"))
    lines.filter(col("idx") >= 3 + n)
      .select((col("idx") - 3 - n).as("pos"), col("tok").cast("long").as("dst"))
      .join(posToV, "pos")
      .select(col("v").as("src"), col("dst"))
  }

  /** SVMlight export (query fixture for [[readSvmlight]]; the reference
    * has only the ingest direction): one `label feat:val ...` line per
    * example, examples ordered by id, features sorted. */
  def writeSvmlight(edges: DataFrame, path: String): Unit =
    edges
      .select(col("src"), concat(col("dst"), lit(":"), col("w")).as("fv"),
        col("dst"))
      .groupBy("src")
      .agg(array_join(array_sort(collect_list(struct(col("dst"), col("fv"))))
        .getField("fv"), " ").as("feats"))
      .select(col("src").as("ord"), concat(lit("1 "), col("feats")).as("value"))
      .repartition(1).sortWithinPartitions("ord")
      .select("value").write.mode("overwrite").text(path)

  /** svmlight2gr (graph-convert.cpp:2795-2900): each line is one example
    * node (id = line number); `feature:value` pairs with value ≠ 0 become
    * edges to node `featureOffset + feature`, where featureOffset = the
    * number of example lines — the bipartite example→feature graph. */
  def readSvmlight(spark: SparkSession, path: String): DataFrame = {
    val lines = Materialize(numberedLines(spark, path))
    val nExamples = lines.count()
    val parts = split(col("tok"), " ")
    lines
      .select(col("idx").as("src"),
        explode(slice(parts, lit(2), greatest(size(parts) - 1, lit(0))))
          .as("fv"))
      .filter(!col("fv").startsWith("#"))
      .select(col("src"),
        split(col("fv"), ":").getItem(0).cast("long").as("feat"),
        split(col("fv"), ":").getItem(1).cast("double").as("w"))
      .filter(col("w") =!= 0.0)
      .select(col("src"), (col("feat") + nExamples).as("dst"), col("w"))
  }

  /** gr2neo4j (graph-convert.cpp:2595-2660): neo4j bulk-import CSVs —
    * `$path/nodes` with (uid:ID, :LABEL) rows labeled `v`, and
    * `$path/edges` with (:START_ID, :END_ID, :TYPE[, value]) rows labeled
    * `e`; headers inline (Spark csv header mode replaces the reference's
    * separate .nodesheader/.edgesheader files). */
  def writeNeo4j(edges: DataFrame, path: String): Unit = {
    graft.operators.GraphOps.vertices(edges)
      .select(col("id").as("uid:ID"), lit("v").as(":LABEL"))
      .write.mode("overwrite").option("header", "true").csv(s"$path/nodes")
    edges
      .select(col("src").as(":START_ID"), col("dst").as(":END_ID"),
        lit("e").as(":TYPE"), col("w").cast("long").as("value"))
      .write.mode("overwrite").option("header", "true").csv(s"$path/edges")
  }

  /** Read back the neo4j edge CSV as (src, dst, w). */
  def readNeo4jEdges(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(s"$path/edges")
      .select(col(":START_ID").cast("long").as("src"),
        col(":END_ID").cast("long").as("dst"),
        col("value").cast("long").as("w"))
}
