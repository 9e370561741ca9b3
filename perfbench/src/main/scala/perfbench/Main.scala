package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark runner: one client thread issues one operation
  * at a time against `local[<cores>]`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir>
  *
  * A run generates its inputs, sets up [[SetupCycles]] times (session
  * start plus one warm-up pass, the median is `setup_s`), checks the
  * program's outputs after the first warm-up, then times a fixed number
  * of passes, about `--seconds` worth (see [[Workload.nominalPassS]]). With `--trace 0` it prints the end-to-end metrics; with
  * `--trace 1` it alternates untraced and traced passes and prints the
  * per-layer metrics of the traced ones. The last stdout line is the
  * JSON result; the exit code is 1 when an output check failed. */
object Main {

  val benchDir: Path = Paths.get(sys.props.getOrElse("perfbench.dir", "perfbench"))

  val SetupCycles = 3
  val MinPasses = 2

  val EndToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "op_s.geomean" -> "s", "setup_s" -> "s")

  /** Per-layer metric name -> the tracer counter it reads. */
  val execKeys: Map[String, String] = Map(
    "exec.stages" -> "stages", "exec.tasks" -> "tasks",
    "exec.failed_tasks" -> "failed_tasks", "exec.run_s" -> "run_s",
    "exec.cpu_s" -> "cpu_s", "exec.gc_s" -> "gc_s",
    "exec.scheduler_delay_s" -> "scheduler_delay_s",
    "shuffle.write_mb" -> "shuffle_write_mb", "shuffle.read_mb" -> "shuffle_read_mb",
    "shuffle.spill_mb" -> "spill_mb")

  val planKeys: Seq[String] = Seq("plan.exchanges", "plan.broadcast_exchanges",
    "plan.sort_merge_joins", "plan.windows", "plan.windows_unpartitioned",
    "plan.checkpoint_scans", "sql.analysis_ms", "sql.optimization_ms", "sql.planning_ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "ops.build_s" -> "s", "ops.build_jobs" -> "count", "plan.checkpoint_scans" -> "count",
    "sql.plan_s" -> "s", "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms",
    "sql.planning_ms" -> "ms",
    "plan.exchanges" -> "count", "plan.broadcast_exchanges" -> "count",
    "plan.sort_merge_joins" -> "count", "plan.windows" -> "count",
    "plan.windows_unpartitioned" -> "count",
    "exec.action_s" -> "s", "exec.action_jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.failed_tasks" -> "count", "exec.run_s" -> "s",
    "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.scheduler_delay_s" -> "s",
    "exec.core_util" -> "ratio", "exec.driver_gap_s" -> "s",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "sources.json_scans" -> "count", "sources.input_mb" -> "MB",
    "sources.sink_write_s" -> "s", "sources.sink_mb" -> "MB",
    "sources.sink_files" -> "count", "sources.write_amp" -> "ratio",
    "pipeline.actions" -> "count", "pipeline.guard_s" -> "s", "pipeline.dq_s" -> "s",
    "pipeline.driver_s" -> "s",
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_s" -> "s",
    "trace.unattributed_s" -> "s", "trace.untagged_jobs" -> "count")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))

  def session(conf: Map[String, String], cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val name = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts.get("--trace").contains("1")
    val work = Paths.get(opts("--work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val w = Workload(name, work, seed)
    val rnd = new Random(seed)

    // set-up: session start + one warm-up pass, several times; input
    // generation (first cycle only) is excluded
    var spark: SparkSession = null
    val ops = mutable.ArrayBuffer[Op]()
    var problems = Seq.empty[String]
    val setups = (1 to SetupCycles).map { i =>
      val t0 = System.nanoTime()
      spark = session(w.conf, cores, work)
      val gen = if (i == 1) Workload.time(w.prepare(spark))._2 else 0.0
      ops ++= (if (i == 1) w.warmup(spark, rnd) else w.pass(spark, rnd, None))
      val s = (System.nanoTime() - t0) / 1e9 - gen
      if (i == 1) problems = w.check(spark)
      if (i < SetupCycles) stop(spark)
      s
    }
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED $p"))

    val tracer = new Tracer(spark)
    val untraced, traced = mutable.ArrayBuffer[Double]()
    val lat = mutable.ArrayBuffer[Op]()
    // a fixed pass count per workload, so every run does the same work
    // whatever the host's speed (the JIT is still warming at this point,
    // and a pass more or less moves the median)
    val passes = math.max(MinPasses, math.round(seconds / w.nominalPassS).toInt)
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    var k = 0
    while (k < passes * (if (trace) 2 else 1)) {
      val on = trace && k % 2 == 1
      // start every pass from the same heap state: a full GC lets the
      // ContextCleaner drop the previous pass's checkpoint blocks,
      // shuffles and broadcasts instead of doing it mid-pass
      System.gc()
      if (on) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val (pass, wall) = Workload.time(w.pass(spark, rnd, if (on) Some(tracer) else None))
      ops ++= pass
      if (on) {
        tracer.drain()
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        layers += w.layers(tracer, wall, cores) +
          ("trace.untagged_jobs" -> tracer.counters(("all", "trace.untagged_jobs")))
        tracer.clear()
        traced += wall
      } else if (pass.forall(_.ok)) {
        untraced += wall
        lat ++= pass
      }
      k += 1
    }
    val failed = ops.count(!_.ok) + problems.size
    val attempted = ops.size + problems.size
    val wall = median(untraced.toSeq)
    // per operation, its median latency; then their geometric mean
    val perOp = lat.groupBy(_.name).values.map(o => median(o.map(_.seconds).toSeq))
    val opGeo = math.exp(perOp.map(math.log).sum / perOp.size)
    val tailP = math.floor((1.0 - 10.0 / lat.size) * 100) / 100
    System.err.println(f"[perfbench] $name seed=$seed passes=${untraced.size}%d " +
      f"(+${traced.size}%d traced) ops=${lat.size}%d wall_s=$wall%.4f " +
      f"op_s.p50=${median(lat.map(_.seconds).toSeq)}%.4f op_s.geomean=$opGeo%.4f" +
      (if (tailP > 0.5) f" op_s.p${(tailP * 100).toInt}%d=${percentile(lat.map(_.seconds).toSeq, tailP)}%.4f" else "") +
      f" setup_s=${setups.map(x => f"$x%.2f").mkString(",")}" +
      f" passes_s=${untraced.map(x => f"$x%.2f").mkString(",")}" +
      w.rawBars.fold("")(n => f" rows_per_s=${n / wall}%.1f[1/s]") +
      f" error_rate=${failed.toDouble / attempted}%.4f[ratio] failed=$failed")
    val metrics =
      if (!trace) {
        val m = Map("wall_s" -> wall, "op_s.geomean" -> opGeo, "setup_s" -> median(setups))
        EndToEnd.map { case (k, u) => (k, m(k), u) }
      } else {
        val tw = median(traced.toSeq)
        val m = Map("trace.wall_s" -> tw, "trace.untraced_wall_s" -> wall,
          "trace.overhead_s" -> (tw - wall))
        PerLayer.map { case (k, u) =>
          (k, m.getOrElse(k, median(layers.map(_.getOrElse(k, 0.0)).toSeq)), u)
        }
      }
    val correct = problems.isEmpty && failed == 0
    println(json(correct, attempted, failed, metrics))
    stop(spark)
    sys.exit(if (correct) 0 else 1)
  }
}
