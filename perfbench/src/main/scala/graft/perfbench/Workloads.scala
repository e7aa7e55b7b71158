package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.io.Tables
import graft.queries.{StageStore, Stages}

/** The workloads. Each runs one client in a closed loop over the
  * program's public entry points, measures for `--seconds`, checks the
  * outputs, and returns the end-to-end metrics (untraced run) or the
  * per-layer metrics (traced run). */
object Workloads {

  def run(spark: SparkSession, args: Args, t0: Long): Result = {
    val runId = s"${args.workload}-${args.seed}-${if (args.trace) "traced" else "plain"}"
    val tracer = new Tracer(args.trace, runId)
    tracer.attach(spark.sparkContext)
    val result = tracer.span("benchmark") {
      tracer.span(s"workload.${args.workload}") {
        args.workload match {
          case "chart_queries" => ChartWorkload(spark, args, t0, tracer)
          case "nightly_etl" => NightlyWorkload(spark, args, t0, tracer)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
      }
    }
    if (args.spans.nonEmpty) tracer.write(Paths.get(args.spans, s"$runId.jsonl"))
    result
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Expected digests: `name<TAB>sha256` lines. */
  def expectedDigests(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\t"); n -> d }.toMap

  /** Median over samples, 0 when there are none (a failed run). */
  def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Median per-call construction time of every base table, in ms;
    * measured in traced runs only (it is a layer metric). */
  def tableMs(spark: SparkSession, dir: String, tracer: Tracer): Double =
    if (!tracer.enabled) 0.0
    else med(Tables.names.map { n =>
      val t = System.nanoTime()
      tracer.span("io.table")(Tables.table(spark, dir, n))
      (System.nanoTime() - t) / 1e6
    })

  /** Metrics of the end-to-end run. The tail latency goes to the log
    * only, with the percentile the sample supports and its size: one
    * run's sample is too small for a tail to be a stable metric. */
  def endToEnd(setupS: Double, sweeps: Seq[Double], ops: Seq[Double], what: String): Seq[(String, Double)] = {
    if (ops.nonEmpty) {
      val tail = Stats.tail(ops)
      System.err.println(f"[perfbench] $what: ${sweeps.length} sweeps, ${ops.length} ops; " +
        f"tail p${tail.pct}%.1f = ${tail.value}%.3f s with ${tail.beyond} of ${tail.n} samples beyond it")
    }
    Seq("setup_s" -> setupS, "sweep_s" -> med(sweeps), "op_p50_s" -> med(ops))
  }

  /** Per-layer metrics, every declared name present (a layer this
    * workload does not exercise reports 0). */
  def perLayer(values: Map[String, Double]): Seq[(String, Double)] = {
    val unknown = values.keySet -- Metrics.PerLayer.map(_.name)
    require(unknown.isEmpty, s"undeclared metrics: ${unknown.mkString(", ")}")
    Metrics.PerLayer.map(d => d.name -> values.getOrElse(d.name, 0.0))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** `chart_queries`: interleaved sweeps over SparkEntry's 27
  * reference-surface queries, each sweep in a seed-shuffled order. Set-up
  * times the base-table construction and runs one untimed warm-up sweep
  * that checks each query's digest. Timed operations execute the full
  * declared plan (`queryExecution.toRdd.count()`).
  *
  * The traced run also builds every persistable staged artifact cold
  * into a fresh warehouse root during set-up (`Stages.resolveAllConcurrently`),
  * which is where the `stages.*` layer metrics come from. */
object ChartWorkload {
  import Workloads._

  private final class OpTrace(val name: String) {
    var wallMs, buildMs, planMs, execMs = 0.0
    var build, exec = ExecStats()
    var rowsOut = 0L
  }

  def apply(spark: SparkSession, args: Args, t0: Long, tracer: Tracer): Result = {
    val names = Metrics.ChartQueries
    val dir = args.data
    val loop = new Loop
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new NoSuchElementException(s"SparkEntry has no query $n"))).toMap
    val expected = expectedDigests(args.expected)

    // ---- set-up ----
    val ioMs = tableMs(spark, dir, tracer)
    if (args.trace) {
      val root = Paths.get(args.work, s"warehouse-${System.nanoTime()}").toAbsolutePath.toString
      StageStore.setForTesting(dir, root)
      loop.untimed("stages.resolve")(tracer.span("stages.resolve")(
        Stages.resolveAllConcurrently(spark, dir)))
    }
    val warmOrder = new Random(args.seed).shuffle(names)
    for (n <- warmOrder) {
      val digest = loop.untimed(s"warmup.$n")(tracer.span(s"warmup.$n")(Digest.of(fns(n)(spark, dir))))
      digest.foreach(d => loop.check(s"digest.$n", expected.get(n).contains(d),
        s"got $d, expected ${expected.getOrElse(n, "<none>")}"))
    }
    val setupS = elapsedS(t0)

    // ---- timed sweeps ----
    val jvm = new JvmMeter
    jvm.start()
    val tStart = System.nanoTime()
    val plainSweeps, tracedSweeps = mutable.ArrayBuffer.empty[Double]
    val traces = mutable.ArrayBuffer.empty[Seq[OpTrace]]
    var sweep = 0
    // A traced run alternates untraced and traced sweeps, which gives the
    // tracing overhead from within the run; it needs untraced, traced,
    // untraced at least, so that warming up across the run cancels.
    while (sweep < (if (args.trace) 3 else 1) || elapsedS(tStart) < args.seconds) {
      val traced = args.trace && sweep % 2 == 1
      tracer.record(spark.sparkContext, traced)
      val order = new Random(args.seed * 1000003L + sweep).shuffle(names)
      val failedBefore = loop.failed
      val ts = System.nanoTime()
      val opTraces = order.map { n =>
        val ot = new OpTrace(n)
        loop.run(n) {
          if (!traced) Execute(fns(n)(spark, dir))
          else tracer.span(s"op.$n") {
            val b0 = System.currentTimeMillis(); val nb = System.nanoTime()
            val df = tracer.span("queries.build")(fns(n)(spark, dir))
            val p0 = System.currentTimeMillis(); val np = System.nanoTime()
            tracer.span("plans.plan")(df.queryExecution.executedPlan)
            val e0 = System.currentTimeMillis(); val ne = System.nanoTime()
            ot.rowsOut = tracer.span("exec.run")(Execute(df))
            val e1 = System.currentTimeMillis(); val ne1 = System.nanoTime()
            tracer.drain(spark.sparkContext)
            ot.wallMs = (ne1 - nb) / 1e6
            ot.buildMs = (np - nb) / 1e6
            // analysis runs inside the builder call, so this overlaps buildMs
            ot.planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
            ot.execMs = (ne1 - ne) / 1e6
            ot.build = tracer.listener.window(b0, p0)
            ot.exec = tracer.listener.window(e0, e1 + 1)
          }
        }
        ot
      }
      val wall = (System.nanoTime() - ts) / 1e9
      System.err.println(f"[perfbench] sweep $sweep%d${if (traced) " (traced)" else ""}: $wall%.3f s")
      if (loop.failed == failedBefore) {
        if (traced) { tracedSweeps += wall; traces += opTraces } else plainSweeps += wall
      }
      sweep += 1
    }
    tracer.record(spark.sparkContext, args.trace)
    val correct = loop.failed == 0

    val metrics =
      if (!args.trace) endToEnd(setupS, plainSweeps.toSeq, loop.seconds, args.workload)
      else {
        def perSweep(f: Seq[OpTrace] => Double) = med(traces.map(f))
        def sumOf(f: OpTrace => Double) = perSweep(_.map(f).sum)
        val stageVals = Stages.stagedSecondsByStage
          .map { case (s, v) => s"stages.build_s.$s" -> v }.toMap +
          ("stages.builds" -> Stages.buildCountTotal.toDouble)
        val rowsRead = traces.flatten.map(_.exec.inputRecords).sum.toDouble
        val rowsOut = traces.flatten.map(_.rowsOut).sum.toDouble
        val perQuery = names.map(n =>
          s"q.$n.s" -> med(traces.flatMap(_.filter(_.name == n).map(_.wallMs / 1000.0))))
        perLayer(Map(
          "io.table_ms" -> ioMs,
          "queries.build_ms" -> sumOf(_.buildMs),
          "queries.build_jobs" -> sumOf(_.build.jobs.toDouble),
          "plans.plan_ms" -> sumOf(_.planMs),
          "exec.ms" -> sumOf(_.execMs),
          "exec.jobs" -> sumOf(_.exec.jobs.toDouble),
          "exec.stages" -> sumOf(_.exec.stages.toDouble),
          "exec.tasks" -> sumOf(_.exec.tasks.toDouble),
          "exec.floor_ms" -> sumOf(o => o.execMs - o.exec.taskMs.toDouble / Main.Cores),
          "exec.task_ms" -> sumOf(_.exec.taskMs.toDouble),
          "exec.shuffle_write_bytes" -> sumOf(_.exec.shuffleWriteBytes.toDouble),
          "exec.input_bytes" -> sumOf(_.exec.inputBytes.toDouble),
          "exec.rows_read_per_row_out" -> (if (rowsOut > 0) rowsRead / rowsOut else 0.0),
          "exec.failed_tasks" -> traces.flatten.map(_.exec.failedTasks).sum.toDouble,
          "jvm.gc_ms" -> jvm.gcMsSinceStart,
          "jvm.heap_peak_mb" -> jvm.heapPeakMb,
          "trace.overhead_pct" ->
            (if (plainSweeps.isEmpty || tracedSweeps.isEmpty) 0.0
             else (med(tracedSweeps) / med(plainSweeps) - 1) * 100),
        ) ++ perQuery ++ stageVals)
      }
    System.err.println(f"[perfbench] setup_s=$setupS%.3f " +
      f"error_rate=${loop.failed.toDouble / loop.attempted}%.4f")
    Result(correct, loop.attempted, loop.failed, metrics)
  }
}

/** Execute a query's full declared plan and count its rows — never
  * `df.count()`, which lets the optimizer drop every subtree that
  * cannot change the row count (see the `graft.Bench.execute`
  * scaladoc). */
object Execute {
  def apply(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
