package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{CorpusEtl, DailyEtl}
import graft.etl.TableFormat
import graft.ingest.Sources
import graft.io.Tables
import graft.text.Curation

/** `nightly_etl`: a sequence of simulated days. Each day runs
  * `DailyEtl.run` on that day's generated playlist page and tracks JSON
  * (read through `FileFetcher`) into a fresh store with a CSV dir, then
  * `CorpusEtl.runBatch` on the day's ascending doc-id slice of the
  * snapshot's `documents`. Set-up generates the inputs, runs
  * `CorpusEtl.init`, and runs day 1 untimed. A sweep is one day; its
  * operations are the two calls. After the run, untimed, the committed
  * store, the last day's README and the corpus ledger are checked
  * against what the generator predicts. */
object NightlyWorkload {
  import Workloads._

  /** Days the generator plans; a run folds as many as fit its time. */
  val PlannedDays = 10
  val Start: LocalDate = LocalDate.of(2026, 1, 1)

  private final class DayTrace {
    var dailyS, foldS = 0.0
    var fetchMs, fetches = 0.0
    var readMs, versionMs, commitMs, calls = 0.0
    var dailySelfMs, foldSelfMs = 0.0
    var daily, fold = ExecStats()
    var bytesWritten, inputBytes = 0.0
    var foldDocs = 0L
  }

  def apply(spark: SparkSession, args: Args, t0: Long, tracer: Tracer): Result = {
    import spark.implicits._
    val loop = new Loop
    val cfg = Curation.Config()
    val ioMs = tableMs(spark, args.data, tracer)

    // ---- set-up: inputs, fresh stores, corpus init, day 1 ----
    val runDir = Paths.get(args.work, s"nightly-${System.nanoTime()}").toAbsolutePath
    val inputs = runDir.resolve("inputs")
    Files.createDirectories(inputs)
    val days = EtlGen.days(args.seed, PlannedDays, Start)
    val files = days.zipWithIndex.map { case (d, i) =>
      val html = inputs.resolve(f"day$i%02d-playlist.html")
      val json = inputs.resolve(f"day$i%02d-tracks.json")
      Files.write(html, EtlGen.playlistHtml(d).getBytes("UTF-8"))
      Files.write(json, EtlGen.tracksJson(d).getBytes("UTF-8"))
      (html.toString, json.toString)
    }
    val docs = Tables.table(spark, args.data, "documents")
    val docIds = docs.select("doc_id").as[Long].collect().toSeq.sorted
    val cuts = EtlGen.cuts(args.seed, docIds, PlannedDays)
    def slice(day: Int): DataFrame = {
      val lo = if (day == 0) Long.MinValue else cuts(day - 1)
      docs.where(col("doc_id") > lo && col("doc_id") <= cuts(day))
    }
    lazy val sliceBytes = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.getBytes("UTF-8").length.toLong }.toMap
    def sliceInputBytes(day: Int): Long = {
      val lo = if (day == 0) Long.MinValue else cuts(day - 1)
      sliceBytes.collect { case (id, b) if id > lo && id <= cuts(day) => b }.sum
    }
    val storeRoot = runDir.resolve("store").toString
    val corpusRoot = runDir.resolve("corpus").toString
    val csvDir = runDir.resolve("csv")
    Files.createDirectories(csvDir)
    val readme = runDir.resolve("README.md").toString
    // an untraced run calls the program with its own fetcher and backend
    val fileFetcher = new Sources.FileFetcher(Map.empty)
    val tracingFetcher = new TracingFetcher(fileFetcher, tracer)
    val fetcher: Sources.Fetcher = if (args.trace) tracingFetcher else fileFetcher
    val backend =
      if (args.trace) TracingFormat.backend(TableFormat.DefaultBackend, tracer)
      else TableFormat.DefaultBackend
    val evalDocs = docs.where(col("doc_id") % cfg.evalModulus === 0)
    loop.untimed("corpus.init")(tracer.span("corpus.init")(
      CorpusEtl.init(spark, corpusRoot, evalDocs, cfg, backend)))

    def config(day: Int) = DailyEtl.Config(storeRoot, days(day).date,
      files(day)._1, files(day)._2, readme, Some(csvDir.toString))
    def daily(day: Int): Unit = tracer.span("daily.run")(DailyEtl.run(spark, fetcher, config(day),
      backend = backend): Unit)
    def fold(day: Int): Unit = tracer.span("fold.run")(CorpusEtl.runBatch(spark, corpusRoot,
      slice(day), day + 1L, cfg, backend): Unit)
    loop.untimed("day0.daily")(daily(0))
    loop.untimed("day0.fold")(fold(0))
    val setupS = elapsedS(t0)
    def storeBytes = dirBytes(Paths.get(storeRoot)) + dirBytes(Paths.get(corpusRoot)) + dirBytes(csvDir)
    val bytesAfterSetup = storeBytes

    // ---- timed days ----
    val jvm = new JvmMeter
    jvm.start()
    val tStart = System.nanoTime()
    val plainDays, tracedDays = mutable.ArrayBuffer.empty[Double]
    val traces = mutable.ArrayBuffer.empty[DayTrace]
    var day = 1
    // a traced run alternates untraced and traced days: untraced, traced,
    // untraced at least (see ChartWorkload)
    while (day < PlannedDays &&
        (day <= (if (args.trace) 3 else 1) || elapsedS(tStart) < args.seconds)) {
      val traced = args.trace && day % 2 == 0
      tracer.record(spark.sparkContext, traced)
      val failedBefore = loop.failed
      val bytesBefore = if (traced) storeBytes else 0L
      val fetchedBefore = tracingFetcher.bytes
      val ns0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
      loop.run("daily_etl")(daily(day))
      val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      loop.run("corpus_fold")(fold(day))
      val ns2 = System.nanoTime(); val ms2 = System.currentTimeMillis()
      val wall = (ns2 - ns0) / 1e9
      if (loop.failed == failedBefore) {
        if (!traced) plainDays += wall
        else {
          tracer.drain(spark.sparkContext)
          val t = new DayTrace
          t.dailyS = (ns1 - ns0) / 1e9
          t.foldS = (ns2 - ns1) / 1e9
          val (fMs, fN) = tracer.total(TracingFetcher.Fetch, ns0, ns2)
          val (rMs, rN) = tracer.total(TracingFormat.Read, ns0, ns2)
          val (vMs, vN) = tracer.total(TracingFormat.Version, ns0, ns2)
          val (cMs, cN) = tracer.total(TracingFormat.Commit, ns0, ns2)
          t.fetchMs = fMs; t.fetches = fN.toDouble
          t.readMs = rMs; t.versionMs = vMs; t.commitMs = cMs
          t.calls = (rN + vN + cN).toDouble
          def etlMs(from: Long, until: Long) = Seq(TracingFormat.Read, TracingFormat.Version,
            TracingFormat.Commit).map(tracer.total(_, from, until)._1).sum
          t.dailySelfMs = t.dailyS * 1000 - fMs - etlMs(ns0, ns1)
          t.foldSelfMs = t.foldS * 1000 - etlMs(ns1, ns2)
          t.daily = tracer.listener.window(ms0, ms1)
          t.fold = tracer.listener.window(ms1, ms2 + 1)
          t.bytesWritten = (storeBytes - bytesBefore).toDouble
          t.inputBytes = (tracingFetcher.bytes - fetchedBefore + sliceInputBytes(day)).toDouble
          t.foldDocs = slice(day).count()
          traces += t
          tracedDays += wall
        }
      }
      day += 1
    }
    tracer.record(spark.sparkContext, args.trace)
    val daysRun = day
    val bytesPerDay = (storeBytes - bytesAfterSetup).toDouble / (daysRun - 1)

    // ---- output checks (untimed) ----
    val fmt = TableFormat.DefaultBackend(spark, storeRoot)
    val want = EtlGen.storeCounts(days.take(daysRun))
    for ((table, n) <- Seq("artist" -> want.artists, "song" -> want.songs,
        "artist_song_map" -> want.maps, "ranking" -> want.rankings)) {
      val got = loop.untimed(s"count.$table")(fmt.read(table).count())
      got.foreach(g => loop.check(s"store.$table", g == n, s"$g rows, generator predicts $n"))
    }
    val wantGlyphs = EtlGen.glyphs(Some(days(daysRun - 2)), days(daysRun - 1))
    val gotGlyphs = spotifyGlyphs(new String(Files.readAllBytes(Paths.get(readme)), "UTF-8"))
    loop.check("readme.glyphs", gotGlyphs == wantGlyphs,
      s"README shows ${gotGlyphs.mkString(" ")}, generator predicts ${wantGlyphs.mkString(" ")}")
    loop.untimed("ledger") {
      val lastCut = cuts(daysRun - 1)
      val union = docs.where(col("doc_id") <= lastCut)
      // eval documents past the folded prefix were pinned at init too;
      // they take part in decontamination but are not in the ledger
      val oneShot = Curation.curate(union.unionByName(evalDocs.where(col("doc_id") > lastCut)), cfg)
        .where(col("doc_id") <= lastCut)
      val ledger = CorpusEtl.DefaultBackend(spark, corpusRoot).read("corpus_flags")
      val cols = Seq("doc_id", "n_tokens", "quality", "predicted", "is_eval",
        "is_exact_dup", "is_near_dup", "is_contaminated", "sampled_in", "kept")
      def rows(df: DataFrame) = df.select(cols.map(col): _*).orderBy("doc_id").collect().toSeq
      val (got, exp) = (rows(ledger), rows(oneShot))
      loop.check("ledger", got == exp, s"${got.length} ledger rows vs ${exp.length} one-shot rows, " +
        s"${got.zip(exp).count { case (a, b) => a != b }} differ")
    }
    System.err.println(f"[perfbench] nightly_etl: ${daysRun - 1} timed days, " +
      f"fold batch ≈ ${docIds.length / PlannedDays} docs; store_bytes_per_day=$bytesPerDay%.0f " +
      f"etl_day_s=${med(loop.timings.filter(_._1 == "daily_etl").map(_._2))}%.3f " +
      f"fold_day_s=${med(loop.timings.filter(_._1 == "corpus_fold").map(_._2))}%.3f " +
      f"error_rate=${loop.failed.toDouble / loop.attempted}%.4f")

    val metrics =
      if (!args.trace) endToEnd(setupS, plainDays.toSeq, loop.seconds, "nightly_etl")
      else {
        def m(f: DayTrace => Double) = med(traces.map(f))
        perLayer(Map(
          "io.table_ms" -> ioMs,
          "exec.ms" -> m(t => (t.dailyS + t.foldS) * 1000),
          "exec.jobs" -> m(t => (t.daily + t.fold).jobs.toDouble),
          "exec.stages" -> m(t => (t.daily + t.fold).stages.toDouble),
          "exec.tasks" -> m(t => (t.daily + t.fold).tasks.toDouble),
          "exec.floor_ms" -> m(t => (t.dailyS + t.foldS) * 1000 - (t.daily + t.fold).taskMs.toDouble / Main.Cores),
          "exec.task_ms" -> m(t => (t.daily + t.fold).taskMs.toDouble),
          "exec.shuffle_write_bytes" -> m(t => (t.daily + t.fold).shuffleWriteBytes.toDouble),
          "exec.input_bytes" -> m(t => (t.daily + t.fold).inputBytes.toDouble),
          "exec.failed_tasks" -> traces.map(t => (t.daily + t.fold).failedTasks).sum.toDouble,
          "ingest.fetch_ms" -> m(_.fetchMs),
          "ingest.fetches" -> m(_.fetches),
          "etl.read_ms" -> m(_.readMs),
          "etl.version_ms" -> m(_.versionMs),
          "etl.commit_ms" -> m(_.commitMs),
          "etl.calls" -> m(_.calls),
          "etl.bytes_written" -> m(_.bytesWritten),
          "etl.write_amp" -> m(t => t.bytesWritten / math.max(1.0, t.inputBytes)),
          "etl.store_bytes_per_day" -> bytesPerDay,
          "daily.day_s" -> m(_.dailyS),
          "daily.self_ms" -> m(_.dailySelfMs),
          "daily.jobs" -> m(_.daily.jobs.toDouble),
          "daily.task_ms" -> m(_.daily.taskMs.toDouble),
          "fold.day_s" -> m(_.foldS),
          "fold.self_ms" -> m(_.foldSelfMs),
          "fold.jobs" -> m(_.fold.jobs.toDouble),
          "fold.task_ms" -> m(_.fold.taskMs.toDouble),
          "fold.docs_per_s" -> m(t => t.foldDocs / math.max(1e-9, t.foldS)),
          "jvm.gc_ms" -> jvm.gcMsSinceStart,
          "jvm.heap_peak_mb" -> jvm.heapPeakMb,
          "trace.overhead_pct" ->
            (if (plainDays.isEmpty || tracedDays.isEmpty) 0.0
             else (med(tracedDays) / med(plainDays) - 1) * 100)))
      }
    Result(loop.failed == 0, loop.attempted, loop.failed, metrics)
  }

  /** The delta-glyph column of the README's Spotify table, by rank. */
  def spotifyGlyphs(md: String): Seq[String] =
    md.split("## Spotify", 2).lift(1).getOrElse("").split("## Apple Music", 2)(0)
      .linesIterator.map(_.split("\\|").map(_.trim))
      .filter(c => c.length > 2 && c(2).nonEmpty && c(2).forall(_.isDigit))
      .map(_(1)).toSeq
}
