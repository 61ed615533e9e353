package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.regex.Pattern

/**
 * Iceberg-style snapshot layer over Parquet — the Spark-native replacement
 * for the reference's PMDK crash-consistent pools (LC_CSR_Graph_PM.h:547-587)
 * and boost binary graph serialization (LC_CSR_Graph.h:237-319).
 *
 * Layout under `root/`:
 *   data/<algo>/step=<n>/           Parquet vertex-state snapshot
 *   snapshots/<algo>-<n>.json       manifest: superstep, path, per-partition
 *                                   lineage (rows per written part file)
 *   metrics/metrics.jsonl           one line per superstep (residual,
 *                                   edges processed, millis, edges/sec)
 *
 * Commit is atomic: the Parquet write completes first, then the manifest is
 * created via write-to-temp + ATOMIC_MOVE rename — a reader (or a resumed
 * run) only ever sees fully-written snapshots. This is the lightweight
 * snapshot-manifest pattern of Iceberg without the runtime dependency.
 * A commit is one Spark job, the write: the lineage comes from the part
 * files' Parquet footers (one file per write task), read on the driver, and
 * the re-read takes the state's schema, so nothing is inferred.
 */
final class SnapshotStore(val root: String, spark: SparkSession) {

  private val snapDir = Paths.get(root, "snapshots")
  private val metricsPath = Paths.get(root, "metrics", "metrics.jsonl")
  Files.createDirectories(snapDir)
  Files.createDirectories(metricsPath.getParent)

  private def dataPath(algo: String, step: Int): String =
    s"$root/data/$algo/step=$step"

  /**
   * Checkpoint a vertex-state DataFrame at `step`; returns the re-read
   * DataFrame (which truncates the iterative plan's lineage — the known
   * iterative-DataFrame pitfall, SURVEY.md §4).
   */
  def commitState(algo: String, step: Int, state: DataFrame): DataFrame = {
    val path = dataPath(algo, step)
    state.write.mode("overwrite").parquet(path)

    val conf = spark.sparkContext.hadoopConfiguration
    val partRows = new Path(path).getFileSystem(conf).listStatus(new Path(path))
      .map(_.getPath).filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map { f =>
        val footer = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        val rows = try footer.getRecordCount finally footer.close()
        val part = f.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
        s"""{"partition":$part,"rows":$rows}"""
      }.mkString("[", ",", "]")

    val manifest =
      s"""{"algo":"$algo","superstep":$step,"path":"$path","committed_at_ms":${System.currentTimeMillis()},"partition_lineage":$partRows}"""
    val tmp = Files.createTempFile(snapDir, s".$algo-$step", ".tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, snapDir.resolve(f"$algo-$step%09d.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    spark.read.schema(state.schema).parquet(path)
  }

  /** Latest committed snapshot for `algo`, if any — the resume point. */
  def latest(algo: String): Option[(Int, DataFrame)] = {
    if (!Files.isDirectory(snapDir)) return None
    // exact: a prefix test would give algo `x` the manifests of `x-y`
    val manifest = Pattern.compile(Pattern.quote(algo) + "-(\\d+)\\.json")
    val names = Files.list(snapDir).iterator()
    var best = -1
    while (names.hasNext) {
      val m = manifest.matcher(names.next().getFileName.toString)
      if (m.matches()) best = math.max(best, m.group(1).toInt)
    }
    if (best < 0) None
    else Some((best, spark.read.parquet(dataPath(algo, best))))
  }

  /** Append one superstep's metrics (the reference's -statFile CSV,
    * README.md:199-202, as a queryable table). */
  def appendMetrics(algo: String, step: Int, l1Residual: Double,
      edgesProcessed: Long, millis: Long): Unit = {
    val eps = if (millis > 0) edgesProcessed * 1000.0 / millis else 0.0
    val line =
      s"""{"algo":"$algo","superstep":$step,"l1_residual":$l1Residual,"edges_processed":$edgesProcessed,"millis":$millis,"edges_per_sec":$eps}\n"""
    Files.writeString(metricsPath, line,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** The metrics table. */
  def metrics(): DataFrame = spark.read.json(metricsPath.toString)
}
