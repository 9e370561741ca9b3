package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Pipeline, SparkEntry}
import graft.ops.PairAnalytics

/** One benchmark workload: its inputs, one pass, its output check and
  * the per-layer split of a traced pass. */
trait Workload {
  /** Session settings on top of the common ones. */
  def conf: Map[String, String] = Map.empty
  /** Generates the inputs (not timed, not part of set-up). */
  def prepare(spark: SparkSession): Unit
  /** About how long one warm pass takes; sets the pass count of a run. */
  def nominalPassS: Double
  /** Raw bars one pass ingests (pipeline workloads only). */
  def rawBars: Option[Long] = None
  /** One pass: the latency of each operation, or of each failure. */
  def pass(spark: SparkSession, rnd: Random, tracer: Option[Tracer]): Seq[Op]
  /** The first warm-up pass, which also keeps what [[check]] needs. */
  def warmup(spark: SparkSession, rnd: Random): Seq[Op] = pass(spark, rnd, None)
  /** Checks the outputs of [[warmup]]; returns one message per mismatch. */
  def check(spark: SparkSession): Seq[String]
  /** Per-layer metrics of one traced pass that took `wall` seconds. */
  def layers(t: Tracer, wall: Double, cores: Int): Map[String, Double]
}

final case class Op(name: String, seconds: Double, ok: Boolean)

object Workload {
  def apply(name: String, work: Path, seed: Long): Workload = name match {
    // most of each query's time goes to building the DataFrame: jobs
    // run by localCheckpoint / collect barriers before the action
    case "construct_heavy" => new QueryWorkload(work, Seq(
      "q108_pagerank", "q314_brown_forsythe", "q386_vocab_drift"), 3.5)
    // most of each query's time goes to the action's jobs
    case "compute_heavy" => new QueryWorkload(work, Seq(
      "q206_basket_lift", "q284_min_cost_supplier", "q345_lsh_recall",
      "q359_split_leakage"), 7.0)
    case "pipeline" => new PipelineWorkload(work, seed, scoped = false)
    case "pipeline_scoped" => new PipelineWorkload(work, seed, scoped = true)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Order-insensitive content hash: the decimal sum of each row's
    * xxhash64. Doubles are hashed at float precision, so a result that
    * moves only in its last bits (a different summation order) still
    * matches; a wrong row does not. */
  def contentHash(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => c.cast(FloatType)
      case ArrayType(DoubleType | FloatType, _) => transform(c, _.cast(FloatType))
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }
}

/** A fixed set of catalogue queries over the generated tables, run in
  * a seed-shuffled order; each operation is `query(spark, dir).count()`,
  * the action `graft.Bench` times. */
final class QueryWorkload(work: Path, queries: Seq[String],
    val nominalPassS: Double) extends Workload {
  import Workload._

  /** Table scale, as a TPC-H-style scale factor. */
  val Sf = 0.02
  private val dir = work.resolve(s"${TableGen.Version}-sf$Sf")
  private val expectedFile = Main.benchDir.resolve("expected_queries.tsv")
  private lazy val fns = queries.map(q => q -> SparkEntry.queries(q))

  private val done = dir.resolve("_rows")

  def prepare(spark: SparkSession): Unit =
    if (!Files.exists(done)) {
      deleteTree(dir)
      TableGen.generate(spark, dir.toString, Sf)
      val rows = TableGen.Tables
        .map(t => spark.read.parquet(dir.resolve(s"$t.parquet").toString).count()).sum
      Files.writeString(done, rows.toString)
    }

  def pass(spark: SparkSession, rnd: Random, tracer: Option[Tracer]): Seq[Op] =
    rnd.shuffle(fns).map { case (name, fn) =>
      val (ok, dt) = time {
        try {
          tracer match {
            case None => fn(spark, dir.toString).count()
            case Some(t) =>
              // the same action as Dataset.count(), split into its phases
              val df = t.span("build")(fn(spark, dir.toString))
              val counted = df.groupBy().count()
              val qe = counted.queryExecution
              t.span("plan")(qe.executedPlan)
              t.span("action")(counted.collect())
              (PlanShape.counts(qe.executedPlan) ++ PlanShape.phases(qe))
                .foreach { case (k, v) => t.add("plan", k, v) }
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e"); false }
      }
      Op(name, dt, ok)
    }

  private var got = Seq.empty[(String, String)]

  /** A pass whose action is the content hash instead of the count. */
  override def warmup(spark: SparkSession, rnd: Random): Seq[Op] = {
    val ops = rnd.shuffle(fns).map { case (name, fn) =>
      val (v, dt) = time {
        try {
          val (rows, hash) = contentHash(fn(spark, dir.toString))
          s"$rows\t$hash"
        } catch { case e: Exception => s"error\t$e" }
      }
      got :+= name -> v
      Op(name, dt, !v.startsWith("error"))
    }
    got = got.sorted
    ops
  }

  def check(spark: SparkSession): Seq[String] = {
    val header = s"# ${TableGen.Version} sf=$Sf"
    val (head, want) = readExpected()
    (if (head == header) Nil else Seq(s"$expectedFile was recorded for $head")) ++
      got.collect { case (q, v) if !want.get(q).contains(v) =>
        s"$q: got rows/hash $v, expected ${want.getOrElse(q, "nothing")}" }
  }

  private def readExpected(): (String, Map[String, String]) = {
    val lines = Files.readAllLines(expectedFile).asScala.toList
    (lines.head, lines.tail.map { l =>
      val Array(q, rest) = l.split("\t", 2); q -> rest }.toMap)
  }

  def layers(t: Tracer, wall: Double, cores: Int): Map[String, Double] = {
    def c(span: String, k: String) = t.counters((span, k))
    def spanS(name: String) = t.spans.filter(_.name == name).map(_.seconds).sum
    val actionS = spanS("action")
    val actionIv = t.spans.filter(_.name == "action").map(s => (s.start, s.end))
    val jobIv = t.jobs.filter(_.span == "action").map(j => (j.start, j.end))
    val jobCovered = Tracer.covered(actionIv.flatMap { case (s, e) => Tracer.clip(jobIv, s, e) })
    Map(
      "ops.build_s" -> spanS("build"),
      "ops.build_jobs" -> c("build", "jobs"),
      "sql.plan_s" -> spanS("plan"),
      "exec.action_s" -> actionS,
      "exec.action_jobs" -> c("action", "jobs"),
      "exec.driver_gap_s" -> math.max(0.0, actionS - jobCovered),
      "exec.core_util" -> c("action", "run_s") / (actionS * cores),
      "trace.unattributed_s" -> (wall - spanS("build") - spanS("plan") - actionS)
    ) ++ Main.execKeys.map { case (k, n) => k -> c("action", n) } ++
      Main.planKeys.map(k => k -> c("plan", k))
  }
}

/** The daily raw-JSON → z-score → sink → DQ job (`Pipeline.run`) over a
  * seeded payload. `scoped` forces every day-scoped window onto the
  * scoped route (carry-in checkpoints), the path large inputs take. */
final class PipelineWorkload(work: Path, seed: Long, scoped: Boolean) extends Workload {
  import Workload._

  val nominalPassS = 3.3
  val Pairs = 5
  val Sessions = 25
  private val raw = work.resolve(s"raw-p$Pairs-s$Sessions-seed$seed")
  private val out = work.resolve("pipeline-out")
  private var expected: RawGen.Expected = _
  private var runs = 0

  override def conf: Map[String, String] =
    if (scoped) Map(graft.ops.ScalableWindow.LocalBytesKey -> "0") else Map.empty

  def prepare(spark: SparkSession): Unit = {
    Files.list(work).filter(_.getFileName.toString.startsWith("raw-"))
      .forEach(p => deleteTree(p))
    expected = RawGen.generate(raw, seed, Pairs, Sessions)
  }

  override def rawBars: Option[Long] = Some(expected.rawBars)

  private def outDir = out.resolve(s"run-$runs").toString

  def pass(spark: SparkSession, rnd: Random, tracer: Option[Tracer]): Seq[Op] = {
    deleteTree(out)
    runs += 1
    val (ok, dt) = time {
      try {
        def run(): Unit = Pipeline.run(spark, raw.toString, outDir,
          pairs = expected.pairs, runId = s"run-$runs")
        tracer.fold(run())(t => t.span("pipeline")(run()))
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] pipeline failed: $e"); false }
    }
    Seq(Op("pipeline", dt, ok))
  }

  def check(spark: SparkSession): Seq[String] = {
    val written = spark.read.parquet(outDir)
    val n = written.count()
    val errs = Seq.newBuilder[String]
    if (n != 2 * expected.alignedBars)
      errs += s"written rows $n, expected 2 x ${expected.alignedBars} aligned pair bars"
    // z_score against the per-pair global window on the same input;
    // leg 2 carries the negated z-score
    val bars = Pipeline.prepare(spark, raw.toString)
    val spreads = expected.pairs.map { case (s1, s2) =>
      def leg(s: String, c: String) = bars.filter(col("symbol") === s)
        .select(col("timestamp").as("bar_ts"), col("close").cast("double").as(c))
      leg(s1, "c1").join(leg(s2, "c2"), "bar_ts")
        .select(lit(s"$s1-$s2").as("pair_name"), col("bar_ts"),
          (log(col("c1")) - log(col("c2"))).as("spread"), lit(s1).as("sym1"), lit(s2).as("sym2"))
    }.reduce(_ unionByName _)
    val z = PairAnalytics.rollingZScore(spreads)
    val ref = z.select(col("pair_name"), col("bar_ts"), col("sym1").as("symbol"),
        col("z_score").as("z_ref"))
      .unionByName(z.select(col("pair_name"), col("bar_ts"), col("sym2").as("symbol"),
        (-col("z_score")).as("z_ref")))
    val joined = written.join(ref, Seq("pair_name", "bar_ts", "symbol"))
    val matched = joined.count()
    // a row is wrong when exactly one side is null, or both are numbers
    // further apart than the tolerance
    val (zNull, refNull) = (col("z_score").isNull, col("z_ref").isNull)
    val bad = joined.filter(zNull =!= refNull || (!zNull && !refNull &&
      abs(col("z_score") - col("z_ref")) > lit(1e-9) * greatest(lit(1.0), abs(col("z_ref")))))
      .count()
    if (matched != 2 * expected.alignedBars || bad > 0)
      errs += s"z_score: $matched rows matched the reference " +
        s"(expected 2 x ${expected.alignedBars}), $bad differ"
    val summary = spark.read.parquet(s"${outDir}_dq/intraday_quality_run_summary").head()
    val got = Seq("overall_status", "symbols_total", "symbols_warn", "symbols_fail")
      .map(k => String.valueOf(summary.getAs[Any](k)))
    val want = Seq("WARN", expected.symbolDays, expected.gapSymbolDays, 0).map(_.toString)
    if (got != want)
      errs += s"DQ summary (status, total, warn, fail) = $got, expected $want"
    errs.result()
  }

  def layers(t: Tracer, wall: Double, cores: Int): Map[String, Double] = {
    def c(k: String) = t.counters(("pipeline", k))
    val span = t.spans.find(_.name == "pipeline").get
    val roots = t.execs.values.filter(e => e.isRoot && e.end >= 0 &&
      e.start >= span.start - 1 && e.end <= span.end + 1).toSeq.sortBy(_.start)
    val mainWrite = roots.find(e => e.isWrite && !e.plan.contains("_dq"))
    val writeStart = mainWrite.fold(Long.MaxValue)(_.start)
    val writeEnd = mainWrite.fold(span.end)(_.end)
    val execIv = roots.map(e => (e.start, e.end))
    val actionS = Tracer.covered(execIv)
    val jobCovered = Tracer.covered(
      execIv.flatMap { case (s, e) => Tracer.clip(t.jobs.map(j => (j.start, j.end)), s, e) })
    val files = Files.walk(java.nio.file.Paths.get(outDir).getParent)
    val sink = try files.filter(p => p.toString.endsWith(".parquet")).toArray.toSeq
      .map(p => Files.size(p.asInstanceOf[Path])) finally files.close()
    val phases = Seq("sql.analysis_ms", "sql.optimization_ms", "sql.planning_ms")
    Map(
      "sql.plan_s" -> phases.map(k => t.actions.map(_(k)).sum).sum / 1e3,
      "exec.action_s" -> actionS,
      "exec.action_jobs" -> c("jobs"),
      "exec.driver_gap_s" -> math.max(0.0, actionS - jobCovered),
      "exec.core_util" -> c("run_s") / (actionS * cores),
      "sources.json_scans" -> c("json_scans"),
      "sources.input_mb" -> c("input_mb"),
      "sources.sink_write_s" -> roots.filter(_.isWrite).map(e => (e.end - e.start) / 1e3).sum,
      "sources.sink_mb" -> sink.sum / 1e6,
      "sources.sink_files" -> sink.size.toDouble,
      "sources.write_amp" -> sink.sum.toDouble / expected.rawBytes,
      "pipeline.actions" -> t.actions.size.toDouble,
      "pipeline.guard_s" -> roots.filter(e => !e.isWrite && e.start < writeStart)
        .map(e => (e.end - e.start) / 1e3).sum,
      "pipeline.dq_s" -> (span.end - writeEnd) / 1e3,
      "pipeline.driver_s" -> (span.seconds - actionS),
      "trace.unattributed_s" -> (wall - span.seconds)
    ) ++ Main.execKeys.map { case (k, n) => k -> c(n) } ++
      Main.planKeys.map(k => k -> t.actions.map(_(k)).sum)
  }
}
