package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Command line: --workload NAME --seed N --seconds S --trace 0|1
  * --state-dir DIR --artifact-dir DIR [--scale full|tiny]
  * [--wrong-reference]. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, stateDir: String, artifactDir: String, tiny: Boolean,
    wrongReference: Boolean)

object Opts {
  def parse(argv: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "wrong-reference") { kv(k) = "1"; i += 1 }
      else {
        require(i + 1 < argv.length, s"missing value for --$k")
        kv(k) = argv(i + 1)
        i += 2
      }
    }
    def need(k: String) =
      kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val scale = kv.getOrElse("scale", "full")
    require(scale == "full" || scale == "tiny", s"unknown --scale $scale")
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("state-dir"), need("artifact-dir"),
      scale == "tiny", kv.contains("wrong-reference"))
  }
}

/** A pass whose timed call threw: the pass is left out of every median. */
final class PassFailed extends RuntimeException

/**
 * State of one benchmark run: the session, the span recorder, operation
 * accounting (each timed call and each output check is one operation) and
 * the per-layer values collected from traced passes.
 */
final class Run(val spark: SparkSession, val opts: Opts) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val partitions: Int = 2 * cores
  private var counters: Option[Counters] = None
  var rec = new Recorder(None, () => ())
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[(String, String)]
  val rows = mutable.ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def traced: Boolean = counters.nonEmpty

  /** Register the benchmark's listener (`on`) or remove it; spans carry
    * its counters while it is registered. */
  def tracing(on: Boolean): Unit = {
    counters.foreach(spark.sparkContext.removeSparkListener)
    counters = if (on) Some(new Counters(cores)) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val old = rec.spans
    rec = new Recorder(counters,
      () => org.apache.spark.GraftBenchBridge.drainListeners(spark.sparkContext))
    rec.spans ++= old
  }

  /** A timed call into the engine: one operation. A throw fails the pass. */
  def call[T](name: String)(body: => T): (T, Span) = {
    attempted += 1
    try rec.span(name)(body) catch {
      case NonFatal(e) =>
        failed += 1
        errors += ((name, e.getClass.getName))
        System.err.println(s"[perfbench] $name failed: $e")
        throw new PassFailed
    }
  }

  /** An output check, made outside the timed spans: one operation. */
  def check(name: String)(test: => Option[String]): Unit = {
    attempted += 1
    val problem = try test catch {
      case NonFatal(e) => Some(e.getClass.getName)
    }
    problem.foreach { p =>
      failed += 1
      errors += ((name, p))
      System.err.println(s"[perfbench] check $name failed: $p")
    }
    rows += Json.obj("kind" -> "check", "name" -> name,
      "ok" -> problem.isEmpty, "detail" -> problem.getOrElse(""))
  }

  /** Record one per-layer reading from a traced pass. */
  def put(name: String, v: Double): Unit = if (traced) record(name, v)

  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Shift a reference answer so the output check must fail (self-test). */
  def reference(x: Double): Double = if (opts.wrongReference) x + 1.0 else x
  def reference(x: Long): Long = if (opts.wrongReference) x + 1 else x

  /** A mark for [[cachedSince]]: RDD ids only grow. */
  def rddMark(): Int = spark.sparkContext.emptyRDD[Int].id

  /** Bytes cached, in memory or on disk, by RDDs created after `mark`. */
  def cachedSince(mark: Int): Long = spark.sparkContext.getRDDStorageInfo
    .filter(_.id > mark).map(r => r.memSize + r.diskSize).sum
}

/** One workload: inputs made in `setup`, then timed passes. */
trait Workload {
  /** Seconds one warm pass takes on a 4-core VM. A run makes
    * round(--seconds / nominalPassS) timed passes (at least one), so the
    * number of samples, and how warm the JIT is when each is taken, does
    * not depend on how fast a run happens to go. */
  def nominalPassS: Double

  /** Generate the inputs from the seed and materialize them, replacing the
    * inputs of an earlier call. */
  def setup(run: Run): Unit

  /** One pass of the timed steps and their output checks; returns the
    * spans of the timed steps. */
  def pass(run: Run): Seq[Span]
}

object Main {
  val workloads: Map[String, Opts => Workload] = Map(
    "web_pipeline" -> (o => new WebPipeline(o)),
    "frontier_kernels" -> (o => new FrontierKernels(o)))

  /** Setups per run; set-up time is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val opts = Opts.parse(argv)
    val make = workloads.getOrElse(opts.workload, {
      System.err.println(s"unknown workload ${opts.workload}; one of " +
        workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val loadBefore = Jvm.loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions",
        2 * Runtime.getRuntime.availableProcessors)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.local.dir", s"${opts.stateDir}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - Jvm.startMs()) / 1000.0
    val run = new Run(spark, opts)
    val wl = make(opts)

    val setups = (1 to SetupReps).map { _ =>
      run.call("setup")(wl.setup(run))._2.seconds
    }
    val setupS = sessionS + Stats.median(setups)

    def passes(n: Int): Seq[Seq[Span]] = (1 to n).flatMap { _ =>
      try Some(wl.pass(run)) catch { case _: PassFailed => None }
    }
    def wall(ps: Seq[Seq[Span]]) = ps.map(_.map(_.seconds).sum)
    val count = math.max(1, math.round(opts.seconds / wl.nominalPassS).toInt)
    passes(1) // warm-up: JIT and code generation; checked like any pass
    // traced passes sit between two untraced groups, so the JIT still
    // warming up between passes does not read as tracing overhead
    val (timed, traced) =
      if (!opts.trace) (passes(count), Seq.empty[Seq[Span]])
      else {
        val half = math.max(1, count / 2)
        val before = passes(half)
        run.tracing(on = true)
        val t = passes(half)
        run.tracing(on = false)
        (before ++ passes(half), t)
      }

    val pipelineS = if (timed.isEmpty) -1.0 else Stats.median(wall(timed))
    val ok = run.attempted - run.failed
    val endToEnd = Seq(
      ("pipeline_s", pipelineS, "s"),
      ("setup_s", setupS, "s"),
      ("ok_frac", ok.toDouble / run.attempted, "ratio"))
    val metrics =
      if (!opts.trace) endToEnd
      else {
        val tracedS = if (traced.isEmpty) -1.0 else Stats.median(wall(traced))
        run.record("trace.untraced_pipeline_s", pipelineS)
        run.record("trace.traced_pipeline_s", tracedS)
        run.record("trace.overhead_frac", tracedS / pipelineS - 1.0)
        run.record("jvm.gc_s", Jvm.gcSeconds())
        run.record("jvm.heap_peak_mb", Jvm.heapPeakMb())
        run.record("jvm.peak_rss_mb", Jvm.peakRssMb())
        Layers.all.map { case (name, unit) =>
          (name, run.layer.get(name).map(v => Stats.median(v.toSeq))
            .getOrElse(0.0), unit)
        }
      }

    val loadAfter = Jvm.loadAvg()
    Artifact.write(run, opts, metrics, Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "xmx_mb" -> Jvm.maxHeapMb().toString,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "passes" -> timed.size.toString,
      "setup_s_each" -> setups.mkString(" "),
      "session_s" -> sessionS.toString))
    spark.stop()

    val correct = run.failed == 0 && timed.nonEmpty
    println(Json.obj(
      "correct" -> correct,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> Json.Raw(metrics.map { case (n, v, u) =>
        Json.quote(n) + ":" + Json.obj("value" -> v, "unit" -> u)
      }.mkString("{", ",", "}"))))
  }
}

/** The per-layer metrics a traced run prints, with units; a layer a
  * workload does not reach reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "ingest_s" -> "s",
    "pagerank_converge_s" -> "s",
    "pagerank_eps" -> "edges/s/iter",
    "graph_build_s" -> "s",
    "cc_s" -> "s",
    "lpa_s" -> "s",
    "triangles_s" -> "s",
    "pagerank_residual_s" -> "s",
    "sources.extract_s" -> "s",
    "sources.extract_rows" -> "count",
    "ranking.densify_s" -> "s",
    "sources.dict_join_clean_s" -> "s",
    "sources.shuffle_bytes" -> "bytes",
    "adjacency.build_s" -> "s",
    "adjacency.bytes_per_edge" -> "bytes",
    "pagerank.iters" -> "count",
    "pagerank.superstep_ms_p50" -> "ms",
    "pagerank.superstep_ms_max" -> "ms",
    "pagerank.jobs_per_iter" -> "count",
    "pagerank.shuffle_write_bytes_per_iter" -> "bytes",
    "pagerank.shuffle_read_bytes_per_iter" -> "bytes",
    "pagerank.exec_busy_frac" -> "ratio",
    "pagerank.driver_gap_frac" -> "ratio",
    "pagerank.task_skew" -> "ratio",
    "pagerank.spill_bytes" -> "bytes",
    "snapshot.commits" -> "count",
    "snapshot.bytes_written" -> "bytes",
    "snapshot.write_jobs" -> "count",
    "snapshot.write_s" -> "s",
    "snapshot.latest_s" -> "s",
    "snapshot.metrics_rows" -> "count",
    "snapshot.resume_step" -> "count",
    "cc.rounds" -> "count",
    "cc.components" -> "count",
    "cc.jobs" -> "count",
    "cc.shuffle_bytes" -> "bytes",
    "cc.driver_gap_frac" -> "ratio",
    "lpa.jobs" -> "count",
    "lpa.shuffle_bytes" -> "bytes",
    "lpa.driver_gap_frac" -> "ratio",
    "triangles.orient_s" -> "s",
    "triangles.list_s" -> "s",
    "triangles.count" -> "count",
    "triangles.shuffle_bytes" -> "bytes",
    "pagerank_residual.rounds" -> "count",
    "pagerank_residual.jobs" -> "count",
    "pagerank_residual.driver_gap_frac" -> "ratio",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "jvm.peak_rss_mb" -> "MB",
    "trace.untraced_pipeline_s" -> "s",
    "trace.traced_pipeline_s" -> "s",
    "trace.overhead_frac" -> "ratio")
}

/** Minimal JSON writer for the result line and the trace table. */
object Json {
  final case class Raw(s: String)
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case Raw(s)                       => s
    case s: String                    => quote(s)
    case b: Boolean                   => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                    => d.toString
    case n: Int                       => n.toString
    case n: Long                      => n.toString
    case other                        => quote(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** The run's trace table, one JSON object a line, in the shape of
  * SnapshotStore's metrics.jsonl: the run's settings and host load, every
  * span with its listener counters (traced runs), every superstep row,
  * every output check, the five most shuffle-heavy spans and the metrics. */
object Artifact {
  def write(run: Run, opts: Opts, metrics: Seq[(String, Double, String)],
      meta: Map[String, String]): Unit = {
    val dir = java.nio.file.Paths.get(opts.artifactDir)
    java.nio.file.Files.createDirectories(dir)
    val file = dir.resolve(
      s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}.jsonl")
    val lines = mutable.ArrayBuffer.empty[String]
    lines += Json.obj((Seq[(String, Any)]("kind" -> "run",
      "workload" -> opts.workload, "seed" -> opts.seed,
      "seconds" -> opts.seconds, "trace" -> opts.trace,
      "scale" -> (if (opts.tiny) "tiny" else "full")) ++ meta.toSeq.sorted): _*)
    run.rec.spans.foreach { s =>
      val base = Seq[(String, Any)]("kind" -> "span", "span" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "millis" -> s.seconds * 1000,
        "cpu_millis" -> s.cpuSeconds * 1000, "ok" -> s.ok,
        "error" -> s.error)
      val st = s.stats.toSeq.flatMap { x =>
        Seq[(String, Any)]("jobs" -> x.c.jobs, "stages" -> x.c.stages,
          "tasks" -> x.c.tasks, "shuffle_read_bytes" -> x.c.shuffleRead,
          "shuffle_write_bytes" -> x.c.shuffleWrite,
          "spill_bytes" -> x.c.spill, "executor_run_ms" -> x.c.runMs,
          "snapshot_jobs" -> x.c.snapshotJobs,
          "driver_gap_frac" -> x.driverGapFrac,
          "exec_busy_frac" -> x.execBusyFrac, "task_skew" -> x.taskSkew)
      }
      lines += Json.obj(base ++ st: _*)
    }
    lines ++= run.rows
    // leaf spans only: a parent's counters include its children's
    val parents = run.rec.spans.map(_.parent).toSet
    run.rec.spans.filter(s => s.stats.nonEmpty && !parents.contains(s.id))
      .sortBy(s => -s.stats.get.c.shuffleWrite).take(5).zipWithIndex
      .foreach { case (s, i) =>
        lines += Json.obj("kind" -> "shuffle_top", "rank" -> (i + 1),
          "span" -> s.id, "name" -> s.name,
          "shuffle_write_bytes" -> s.stats.get.c.shuffleWrite)
      }
    run.errors.foreach { case (op, err) =>
      lines += Json.obj("kind" -> "failure", "op" -> op, "error" -> err)
    }
    metrics.foreach { case (n, v, u) =>
      lines += Json.obj("kind" -> "metric", "name" -> n, "value" -> v,
        "unit" -> u)
    }
    java.nio.file.Files.writeString(file, lines.mkString("", "\n", "\n"))
    System.err.println(s"[perfbench] trace table: $file")
  }
}
