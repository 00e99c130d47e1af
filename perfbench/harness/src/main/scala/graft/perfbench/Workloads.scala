package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{SparkEntry, Tables}
import graft.operators._
import graft.streaming._

/** The Spark layers under a workload part, summed over its spans and
  * divided by `units` (the live part's cycles). */
object SparkLayers {
  def apply(spans: Seq[Span], units: Double = 1): Map[String, Double] = {
    def all(k: String) = Tracer.sum(spans, k)(_ => true) / units
    Map(
      "scheduler.jobs" -> all("jobs"),
      "scheduler.stages" -> all("stages"),
      "scheduler.tasks" -> all("tasks"),
      "scheduler.single_task_stages" -> all("single_task_stages"),
      "scheduler.outside_tasks_s" -> all("outside_tasks_s"),
      "catalyst.analysis_s" -> all("analysis_s"),
      "catalyst.optimizer_s" -> all("optimizer_s"),
      "catalyst.planning_s" -> all("planning_s"),
      "executor.run_s" -> all("run_s"),
      "executor.cpu_s" -> all("cpu_s"),
      "executor.gc_s" -> all("gc_s"),
      "shuffle.write_bytes" -> all("shuffle_write_bytes"),
      "shuffle.read_bytes" -> all("shuffle_read_bytes"),
      "shuffle.spill_bytes" -> all("spill_bytes"))
  }

  def durs(spans: Seq[Span], name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.dur)

  def open(spark: SparkSession): Unit =
    spark.range(1).write.format("noop").mode("overwrite").save()

  /** Run the thunks `threads` at a time; results in order. */
  def parallel[T](fs: Seq[() => T], threads: Int = 4): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try fs.map(f => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = f() }))
      .map(_.get())
    finally pool.shutdown()
  }

  def err(what: String, e: Throwable): String =
    s"$what: ${e.getClass.getName}: ${e.getMessage}".take(2000)
}
import SparkLayers.{durs, err}

/** The suite part: a fixed set of `SparkEntry.queries`, each built and
  * driven through the noop sink once, closed loop, in a seed-shuffled
  * order. */
final class Suite(inputs: String, work: String, seed: Long) extends Workload {
  private val dir = s"$inputs/tables"
  private val names: Seq[String] =
    new scala.util.Random(seed).shuffle(Files.readAllLines(
      Paths.get(s"$inputs/suite.txt")).asScala.map(_.trim).filter(_.nonEmpty).toSeq)

  /** Wall of building one query and driving it through the noop sink. */
  private def run(spark: SparkSession, tr: Tracer, n: String): Double =
    Stats.timed {
      val df = tr.span("operators.construct")(SparkEntry.queries(n)(spark, dir))
      tr.span("sink.noop")(df.write.format("noop").mode("overwrite").save())
    }._2

  def open(spark: SparkSession): Unit = {
    SparkLayers.open(spark)
    Tables.all.foreach(t => Tables.table(spark, dir, t))
  }

  /** The warm pass is also the check pass: each query's result in
    * graft.Verify's layout (one parquet directory per query, plus
    * `oracle_sql.json` and `queries.json`), which dev/check.py compares
    * against DuckDB. Verify itself would stop the shared session. */
  def warmUp(spark: SparkSession): Unit = {
    val out = s"$work/verify"
    SparkLayers.parallel(names.map(n => () => SparkEntry.queries(n)(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/$n")), 3)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Stats.json(
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    Files.writeString(Paths.get(s"$out/queries.json"), Stats.json(names.sorted))
  }

  def measure(spark: SparkSession, tr: Tracer): Result = {
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = tr.now()
    val perQuery = names.flatMap { n =>
      val r = Try(tr.span("suite.query")(run(spark, tr, n)))
      tr.settle(tr.last("suite.query"))
      r.failed.foreach(e => errors += err(n, e))
      r.toOption.map(n -> _)
    }
    val wall = tr.now() - t0
    val walls = perQuery.map(_._2)
    Result(names.size, errors.toSeq,
      Map("pass_s" -> walls.sum,
        "op_p50_s" -> Stats.median(walls),
        "op_tail_s" -> Stats.pct(walls, 90),
        "throughput_per_s" -> perQuery.size / wall),
      Map("queries" -> names.size, "tail_pct" -> 90, "per_query_s" -> perQuery.toMap),
      spans => {
        val mine = spans.filter(s => s.start >= t0 && s.end <= t0 + wall)
        SparkLayers(mine) ++ Map(
          "operators.construct_s" -> durs(mine, "operators.construct").sum,
          "operators.construct_jobs" ->
            Tracer.sum(mine, "jobs")(_.name == "operators.construct"))
      },
      Seq((t0, t0 + wall)),
      s => s.name == "operators.construct" || s.name == "sink.noop")
  }

  def check(spark: SparkSession): Map[String, Any] =
    Map("verify_dir" -> s"$work/verify", "tables" -> dir)
}

/** One live cycle: its wall, the polls pending as it started, the
  * freshness of the polls it served, its phase walls and stream runs. */
final case class Cycle(start: Double, end: Double, backlog: Int, fresh: Seq[Double],
                       ingestStart: Double, scoringStart: Double, serve: Double,
                       ingestRun: UUID, scoringRun: UUID) {
  def wall: Double = end - start
}

/** The live part: open-loop poll files land on a fixed schedule while one
  * thread repeats startIngest → startScoring → dailySummary + top-K. */
final class Live(inputs: String, work: String) extends Workload {
  private val meta = Files.readString(Paths.get(s"$inputs/live.txt")).trim.split("\\s+")
  private val interval = meta(0).toDouble
  private val warmPolls = meta(1).toInt
  private val polls = new File(s"$inputs/polls").listFiles()
    .filter(_.getName.endsWith(".json")).map(_.getName).sorted.toSeq
  private val landing = s"$work/landing"
  private val bronze = s"$work/bronze"
  private val hourly = s"$work/hourly"
  private val ckIngest = s"$work/ckpt-ingest"
  private val ckScoring = s"$work/ckpt-scoring"

  private def land(name: String): Unit =
    Files.move(Paths.get(s"$inputs/polls/$name"), Paths.get(s"$landing/$name"),
      StandardCopyOption.ATOMIC_MOVE)

  /** Poll files the ingest query has committed, from its file-source log. */
  private def ingested(): Set[String] = {
    val log = new File(s"$ckIngest/sources/0")
    val Path = "\"path\":\"[^\"]*/([^/\"]+)\"".r
    Option(log.listFiles()).getOrElse(Array.empty).filterNot(_.getName.startsWith("."))
      .flatMap(f => Path.findAllMatchIn(Files.readString(f.toPath)).map(_.group(1)))
      .toSet
  }

  /** One cycle: (ingest start, scoring start, serve) seconds and the two
    * stream runs. */
  private def cycle(spark: SparkSession, tr: Tracer): (Double, Double, Double, UUID, UUID) = {
    val (iq, is) = tr.span("ingest") {
      val (q, s) = Stats.timed(tr.span("ingest.start")(
        GhIngest.startIngest(spark, landing, bronze, ckIngest)))
      tr.span("ingest.run")(q.awaitTermination())
      (q, s)
    }
    val (sq, ss) = tr.span("scoring") {
      val (q, s) = Stats.timed(tr.span("scoring.start")(
        GhIngest.startScoring(spark, bronze, hourly, ckScoring)))
      tr.span("scoring.run")(q.awaitTermination())
      (q, s)
    }
    val (_, serve) = Stats.timed(tr.span("serve.topk")(
      GhIngest.topContributors(GhBackfill.dailySummary(spark, hourly), 10).collect()))
    (is, ss, serve, iq.runId, sq.runId)
  }

  def open(spark: SparkSession): Unit = {
    SparkLayers.open(spark)
    Files.createDirectories(Paths.get(landing))
  }

  def warmUp(spark: SparkSession): Unit = {
    polls.take(warmPolls).foreach(land)
    cycle(spark, new Tracer(false))
  }

  /** Cycles measured after the start-up cycle, which only serves the poll
    * that landed as measuring began and is not counted. Landing goes on
    * through all of them; polls that land during the last one stay
    * pending. */
  private val SteadyCycles = 4

  def measure(spark: SparkSession, tr: Tracer): Result = {
    val live = polls.drop(warmPolls)
    val t0 = tr.now()
    val due = live.indices.map(t0 + _ * interval)
    val landedAt = new Array[Double](due.size)
    val landed = new AtomicInteger(0)
    val lander = new Thread(() =>
      try due.indices.foreach { i =>
        val wait = due(i) - tr.now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        else if (Thread.interrupted()) throw new InterruptedException
        land(live(i))
        landedAt(i) = tr.now()
        landed.incrementAndGet()
      } catch { case _: InterruptedException => () }, "perfbench-lander")
    lander.setDaemon(true)
    lander.start()

    val index = live.zipWithIndex.toMap
    var seen = ingested()
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val errors = mutable.ArrayBuffer.empty[String]
    // the schedule's end: past it the load would no longer be open loop
    val hardStop = due.last
    while (cycles.size <= SteadyCycles && errors.isEmpty && tr.now() < hardStop) {
      val backlog = landed.get - (seen.size - warmPolls)
      if (backlog <= 0) Thread.sleep(5)
      else {
        val c0 = tr.now()
        Try(tr.span("live.cycle")(cycle(spark, tr))) match {
          case Success((is, ss, sv, ir, sr)) =>
            val end = tr.now()
            val now = ingested()
            val fresh = (now -- seen).toSeq.flatMap(index.get).map(end - due(_))
            seen = now
            cycles += Cycle(c0, end, backlog, fresh, is, ss, sv, ir, sr)
          case Failure(e) => errors += err("cycle", e)
        }
        tr.settle(tr.last("live.cycle"))
      }
    }
    lander.interrupt()
    lander.join()
    if (errors.isEmpty && cycles.size <= SteadyCycles)
      errors += s"${cycles.size} cycles by the end of the landing schedule, " +
        s"${SteadyCycles + 1} needed"
    val steady = cycles.drop(1).toSeq
    val fresh = steady.flatMap(_.fresh)
    val (tailP, tailV) = Stats.tail(fresh)
    val (from, to) = (steady.headOption.fold(t0)(_.start), tr.now())
    Result(cycles.size + errors.size, errors.toSeq,
      Map("pass_s" -> Stats.median(steady.map(_.wall)),
        "op_p50_s" -> Stats.median(fresh),
        "op_tail_s" -> tailV,
        "serve_s" -> Stats.median(steady.map(_.serve))),
      Map("cycles" -> steady.size, "cycle_s" -> steady.map(_.wall),
        "backlog" -> steady.map(_.backlog), "polls_served" -> steady.map(_.fresh.size),
        "startup_cycle_s" -> cycles.headOption.map(_.wall),
        "polls_measured" -> fresh.size, "tail_pct" -> tailP, "freshness_s" -> fresh,
        "first_measured_poll" -> (warmPolls + cycles.headOption.fold(0)(_.fresh.size)),
        "landed_total" -> (warmPolls + landed.get), "interval_s" -> interval),
      spans => {
        val n = steady.size.toDouble
        val prog = tr.progress.asScala.toSeq
        val ing = Tracer.progressOf(prog, steady.map(_.ingestRun).toSet)
        val sco = Tracer.progressOf(prog, steady.map(_.scoringRun).toSet)
        def phases(all: Seq[StreamingQueryProgress], layer: String) = {
          val ps = all.filter(_.durationMs.containsKey("addBatch"))
          val ds = ps.map(Tracer.durations)
          Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
            "commitOffsets", "triggerExecution").map(k =>
            s"$layer.${k}_ms" -> Stats.median(ds.map(_.getOrElse(k, 0.0)))).toMap ++ Map(
            s"$layer.state_rows" -> ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
            s"$layer.state_bytes" -> ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0))
        }
        val mine = spans.filter(s => s.start >= from && s.end <= to)
        SparkLayers(mine, n) ++ phases(ing, "ingest") ++ phases(sco, "scoring") ++ Map(
          "ingest.start_s" -> Stats.median(steady.map(_.ingestStart)),
          "ingest.rows_in" -> ing.map(_.numInputRows.toDouble).sum / n,
          "ingest.rows_out" -> ing.map(_.stateOperators.map(_.numRowsUpdated).sum.toDouble).sum / n,
          "ingest.late_dropped" -> ing.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble).sum,
          "scoring.start_s" -> Stats.median(steady.map(_.scoringStart)),
          "scoring.addBatch_jobs" -> Tracer.sum(mine, "jobs")(_.name.startsWith("scoring")) /
            sco.count(_.durationMs.containsKey("addBatch")).max(1),
          "serve.topk_s" -> Stats.median(steady.map(_.serve)),
          "live.backlog_max" -> steady.map(_.backlog).maxOption.getOrElse(0).toDouble,
          "live.gen_late_s" -> (0 until landed.get).map(i => landedAt(i) - due(i)).maxOption.getOrElse(0.0))
      },
      Seq((from, to)),
      s => Set("ingest", "scoring", "serve.topk")(s.name))
  }

  def check(spark: SparkSession): Map[String, Any] = {
    GhBackfill.dailySummary(spark, hourly).write.mode("overwrite").parquet(s"$work/live-daily")
    val top = GhIngest.topContributors(GhBackfill.dailySummary(spark, hourly), 10)
      .collect().map(r => Seq(r.get(0).toString, r.getString(1), r.getLong(2)))
    Map("bronze" -> bronze, "hourly" -> hourly, "daily" -> s"$work/live-daily",
      "topk" -> top.toSeq, "ingested" -> ingested().toSeq.sorted)
  }
}

/** The backfill part: a day of GHArchive hour files, all present, run
  * through read → clean → dedup → backfillMissingHours → dailySummary →
  * top-K into a fresh output table, once in the warm-up and once
  * measured. */
final class Backfill(inputs: String, work: String) extends Workload {
  private val files = new File(s"$inputs/day").listFiles()
    .filter(_.getName.endsWith(".json.gz")).map(_.getPath).sorted.toSeq
  private val lines = Files.readString(Paths.get(s"$inputs/day.txt")).trim.toLong
  private val warmOut = s"$work/backfill-hourly-warm"
  private val out = s"$work/backfill-hourly"

  /** (hours written, backfill call wall, daily + top-K wall). */
  private def iteration(spark: SparkSession, tr: Tracer, dir: String): (Int, Double, Double) = {
    val events = tr.span("backfill.read")(GhIngest.dedupEvents(GhIngest.cleanEvents(
      GhIngest.readEventsJson(spark, files))))
    val (hours, call) = Stats.timed(tr.span("backfill.call")(
      GhBackfill.backfillMissingHours(spark, events, dir)))
    val (_, serve) = Stats.timed(tr.span("backfill.daily_topk")(
      GhIngest.topContributors(GhBackfill.dailySummary(spark, dir), 10).collect()))
    (hours, call, serve)
  }

  def open(spark: SparkSession): Unit = {
    SparkLayers.open(spark)
    GhIngest.readEventsJson(spark, files).schema
  }

  def warmUp(spark: SparkSession): Unit = iteration(spark, new Tracer(false), warmOut)

  def measure(spark: SparkSession, tr: Tracer): Result = {
    val t0 = tr.now()
    val r = Try(tr.span("backfill")(iteration(spark, tr, out)))
    val wall = tr.now() - t0
    tr.settle(tr.last("backfill"))
    val (hours, call, serve) = r.getOrElse((0, Double.NaN, Double.NaN))
    val onDisk = files.map(f => new File(f).length).sum.toDouble
    Result(1, r.failed.toOption.map(err("backfill", _)).toSeq,
      Map("batch_s" -> wall, "throughput_per_s" -> lines / wall),
      Map("lines" -> lines, "wall_s" -> wall, "call_s" -> call, "daily_topk_s" -> serve),
      spans => {
        def bf(k: String) = Tracer.sum(spans, k)(_.name.startsWith("backfill"))
        Map(
          "backfill.call_s" -> call,
          "backfill.daily_topk_s" -> serve,
          "backfill.jobs" -> bf("jobs"),
          "backfill.tasks" -> bf("tasks"),
          "backfill.executor_run_s" -> bf("run_s"),
          "backfill.executor_cpu_s" -> bf("cpu_s"),
          "backfill.gc_s" -> bf("gc_s"),
          "backfill.input_bytes" -> bf("input_bytes"),
          "backfill.shuffle_write_bytes" -> bf("shuffle_write_bytes"),
          "backfill.spill_bytes" -> bf("spill_bytes"),
          "backfill.output_bytes" -> bf("output_bytes"),
          "backfill.hours_written" -> hours.toDouble,
          "backfill.input_read_ratio" -> bf("input_bytes") / onDisk)
      },
      Seq((t0, t0 + wall)),
      s => Set("backfill.read", "backfill.call", "backfill.daily_topk")(s.name))
  }

  /** The measured table, plus the drop counts as the program's own
    * functions see them. */
  def check(spark: SparkSession): Map[String, Any] = {
    GhBackfill.dailySummary(spark, out).write.mode("overwrite").parquet(s"$work/backfill-daily")
    val raw = GhIngest.readEventsJson(spark, files).cache()
    val clean = GhIngest.cleanEvents(raw)
    val dedup = GhIngest.dedupEvents(clean)
    val top = GhIngest.topContributors(GhBackfill.dailySummary(spark, out), 10)
      .collect().map(r => Seq(r.get(0).toString, r.getString(1), r.getLong(2)))
    Map("hourly" -> out, "daily" -> s"$work/backfill-daily", "topk" -> top.toSeq,
      "counts" -> Map(
        "lines" -> raw.count(),
        "corrupt" -> GhIngest.corruptRecords(raw).count(),
        "clean" -> clean.count(),
        "dedup" -> dedup.count(),
        "null_login" -> dedup.filter(col("actor.login").isNull).count(),
        "scored" -> GhBackfill.hourlyScoresPartitioned(dedup)
          .agg(sum(col("score"))).head().getLong(0)))
  }
}

/** The streams part: fixed batches of documents, embeddings and events,
  * each applied to all 13 partial states, then each served view read
  * once. Both run four streams at a time, as independent maintenance
  * streams and their readers do side by side. */
final class Streams(inputs: String, work: String) extends Workload {
  private val dir = s"$inputs/tables"
  private val DocsPerBatch = 100
  private val VecsPerBatch = 40
  private val EventsPerBatch = 2000
  private def st(name: String) = s"$work/state/$name"
  /** Batch 0 is applied in the warm-up, batch 1 is measured. */
  private val Batches = 2

  private def docs(spark: SparkSession, b: Int) = Tables.documents(spark, dir)
    .filter(col("doc_id") >= b * DocsPerBatch && col("doc_id") < (b + 1) * DocsPerBatch)
  private def vecs(spark: SparkSession, b: Int) = Tables.embeddings(spark, dir)
    .filter(col("vec_id") >= b * VecsPerBatch && col("vec_id") < (b + 1) * VecsPerBatch)
  private def events(spark: SparkSession, b: Int) = Tables.events(spark, dir)
    .filter(col("event_id") >= b * EventsPerBatch && col("event_id") < (b + 1) * EventsPerBatch)
  private def dt(d: DataFrame) = d.select("doc_id", "text")

  /** Each stream's batch function. */
  private def processors(spark: SparkSession, b: Int, root: String)
      : Seq[(String, () => Unit)] = {
    val d = docs(spark, b)
    def s(n: String) = s"$root/$n"
    Seq(
      "AnnStream" -> (() => AnnStream.processVectorBatch(vecs(spark, b), s("AnnStream"), b)),
      "BpeStream" -> (() => BpeStream.processDocBatch(dt(d), s("BpeStream"), b)),
      "ClusterStream" -> (() => ClusterStream.processClusterBatch(dt(d), s("ClusterStream"), b)),
      "DedupStream" -> (() => DedupStream.processDocBatch(dt(d), s("DedupStream"), b)),
      "DsirStream" -> (() => DsirStream.processDocBatch(
        d.select("doc_id", "text", "lang"), s("DsirStream"), b)),
      "LmStream" -> (() => LmStream.processDocBatch(dt(d), s("LmStream"), b)),
      "NoveltyStream" -> (() => NoveltyStream.processNoveltyBatch(d, s("NoveltyStream"), b)),
      "OverlapStream" -> (() => OverlapStream.processOverlapBatch(d, s("OverlapStream"), b)),
      "QualityStream" -> (() => QualityStream.processQualityBatch(
        d.select("doc_id", "source", "text"), s("QualityStream"), b)),
      "ReportStream" -> (() => ReportStream.processReportBatch(d, s("ReportStream"), b)),
      "SearchStream" -> (() => SearchStream.processPostingsBatch(d, s("SearchStream"), b)),
      "SketchStream" -> (() => SketchStream.processSketchBatch(events(spark, b), s("SketchStream"), b)),
      "SubstringStream" -> (() => SubstringStream.processDocBatch(dt(d), s("SubstringStream"), b)))
  }

  private lazy val probe: Seq[Double] = {
    val spark = SparkSession.active
    import spark.implicits._
    Tables.embeddings(spark, dir).filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).as[Seq[Double]].head()
  }

  /** Each stream's served view of the state under `root`. */
  private def served(spark: SparkSession, root: String): Seq[(String, () => DataFrame)] = {
    def s(n: String) = s"$root/$n"
    Seq(
      "AnnStream" -> (() => AnnStream.servedAnnLsh(spark, s("AnnStream"), probe, excludeId = 0L)),
      "BpeStream" -> (() => BpeStream.servedVocab(spark, s("BpeStream"))),
      "ClusterStream" -> (() => ClusterStream.servedLabels(spark, s("ClusterStream"))),
      "DedupStream" -> (() => DedupStream.servedDupPairs(spark, s("DedupStream"))),
      "DsirStream" -> (() => DsirStream.servedRatios(spark, s("DsirStream"))),
      "LmStream" -> (() => LmStream.servedModel(spark, s("LmStream"))),
      "NoveltyStream" -> (() => NoveltyStream.servedNovelty(spark, s("NoveltyStream"))),
      "OverlapStream" -> (() => OverlapStream.servedMatrix(spark, s("OverlapStream"))),
      "QualityStream" -> (() => QualityStream.servedThresholds(spark, s("QualityStream"))),
      "ReportStream" -> (() => ReportStream.mergedReport(spark, s("ReportStream"))),
      "SearchStream" -> (() => SearchStream.servedBm25(spark, s("SearchStream"))),
      "SketchStream" -> (() => SketchStream.mergedCounters(spark, s("SketchStream"))),
      "SubstringStream" -> (() => SubstringStream.servedSpans(spark, s("SubstringStream"))))
  }

  def open(spark: SparkSession): Unit = {
    SparkLayers.open(spark)
    Seq("documents", "embeddings", "events").foreach(t => Tables.table(spark, dir, t))
  }

  /** Batch 0 into the measured state, six streams at a time: code
    * generation and JIT, not timing, are the point here. The views are
    * not read, so the measured reads include generating their code, as a
    * reader's first read after start does. */
  def warmUp(spark: SparkSession): Unit = {
    SparkLayers.parallel(processors(spark, 0, s"$work/state").map(_._2), 6)
  }

  private val servedRows = mutable.Map.empty[String, Seq[String]]

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  def measure(spark: SparkSession, tr: Tracer): Result = {
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = tr.now()
    val (done, batchWall) = Stats.timed(tr.span("streams.batch") {
      SparkLayers.parallel(processors(spark, Batches - 1, s"$work/state").map {
        case (name, p) => () => name -> Try(Stats.timed(tr.span(s"$name.process")(p()))._2)
      })
    })
    tr.settle(tr.last("streams.batch"))
    // each served view read once, four readers at a time; the rows are
    // kept for the twin check
    val (read, serveWall) = Stats.timed(tr.span("streams.serve")(SparkLayers.parallel(
      served(spark, s"$work/state").map { case (name, f) => () =>
        name -> Try(Stats.timed(tr.span(s"$name.serve")(rows(f()))))
      })))
    tr.settle(tr.last("streams.serve"))
    val wall = tr.now() - t0
    val processOf = done.collect { case (name, Success(t)) => name -> t }.toMap
    val serveOf = read.collect { case (name, Success((r, t))) => servedRows(name) = r; name -> t }.toMap
    done.collect { case (name, Failure(e)) => errors += err(s"$name.process", e) }
    read.collect { case (name, Failure(e)) => errors += err(s"$name.serve", e) }
    Result(done.size + read.size, errors.toSeq,
      Map("batch_s" -> batchWall, "serve_s" -> serveWall),
      Map("batches" -> Batches, "process_s" -> processOf, "serve_s" -> serveOf),
      _ => processOf.keys.flatMap { n =>
        val fs = Files.walk(Paths.get(st(n))).iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
        Seq(s"$n.process_s" -> processOf(n),
          s"$n.serve_s" -> serveOf.getOrElse(n, 0.0),
          s"$n.state_bytes" -> fs.map(Files.size(_)).sum.toDouble,
          s"$n.state_files" -> fs.size.toDouble)
      }.toMap,
      Seq((t0, t0 + wall)),
      s => s.name.endsWith(".process") || s.name.endsWith(".serve"))
  }

  /** Each served view against its one-shot batch twin over the same
    * documents (exact row multisets). */
  def check(spark: SparkSession): Map[String, Any] = {
    import spark.implicits._
    val n = Batches
    val d = Tables.documents(spark, dir).filter($"doc_id" < n * DocsPerBatch)
    val v = Tables.embeddings(spark, dir).filter($"vec_id" < n * VecsPerBatch)
    val ev = Tables.events(spark, dir).filter($"event_id" < n * EventsPerBatch)
    val twins: Map[String, () => DataFrame] = Map(
      "AnnStream" -> (() => SimilarityOps.annLshFrame(spark,
        v.select($"vec_id", $"embedding".cast("array<double>").as("e")))),
      "BpeStream" -> (() => BpeOps.vocabOf(dt(d))),
      "ClusterStream" -> (() => DedupOps.dedupClustersOf(dt(d))),
      "DedupStream" -> (() => DedupOps.dedupMinhashLshOf(dt(d))),
      "DsirStream" -> (() => TextOps.dsirRatiosFromCounts(
        TextOps.dsirToksOf(d.select("doc_id", "text", "lang")).groupBy($"b")
          .agg(count(lit(1)).as("ct_r"), count_if($"is_t").as("ct_t")))),
      "LmStream" -> (() => TextOps.lmModelFromCounts(TextOps.bigramsOfFrame(dt(d))
        .groupBy($"w1", $"w2").agg(count("*").as("c12")))),
      "NoveltyStream" -> (() => DedupOps.noveltyScoresOf(dt(d))),
      "OverlapStream" -> (() => DedupOps.overlapMatrixFrom(
        DedupOps.sourcePairsOf(d.select("doc_id", "source", "text")))),
      "QualityStream" -> (() => TextOps.qualityGateOf(d.select("doc_id", "source", "text"))),
      "ReportStream" -> (() => TextOps.finishReport(TextOps.reportPartialsOf(d))),
      "SearchStream" -> (() => SearchOps.bm25SearchOf(d)),
      "SketchStream" -> (() => SketchOps.cmsCounters(
        ev.filter($"user_id".isNotNull).select($"user_id"))),
      "SubstringStream" -> (() => DedupOps.substringSpansOf(dt(d))))
    // the served thresholds are checked through the gate they define
    servedRows("QualityStream") = rows(TextOps.gateWith(
      TextOps.scoredDocs(spark, dir).filter($"doc_id" < n * DocsPerBatch),
      QualityStream.servedThresholds(spark, st("QualityStream"))))
    val verdicts = SparkLayers.parallel(twins.toSeq.map { case (name, twin) => () =>
      name -> (try {
        val (a, b) = (servedRows(name), rows(twin()))
        if (a == b) s"equal (${a.size} rows)"
        else s"DIFFERENT: served ${a.size} rows, twin ${b.size} rows; first diff " +
          a.zipAll(b, "-", "-").find { case (x, y) => x != y }.getOrElse(("", ""))
      } catch { case e: Throwable => err("twin", e) })
    }, 6).toMap
    Map("batches" -> n, "twins" -> verdicts)
  }
}
