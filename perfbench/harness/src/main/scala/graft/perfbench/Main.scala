package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --inputs <dir> --work <dir> --out <file.json>
  * }}}
  *
  * It sets the session up three times (the median is `setup_s`), warms
  * the workload unmeasured, measures a fixed amount of work, runs the
  * workload's own unmeasured check pass, and writes one JSON object
  * with the end-to-end metrics, the per-layer metrics (traced runs), the
  * spans and what the Python checks need. Each part measures a fixed
  * amount of work (one suite pass, one streams batch, a fixed number of
  * live cycles, one backfill) rather than a time window: a window that
  * ends near a unit boundary makes the unit count, and the metrics with
  * it, flip between runs. `--seconds` is recorded, not used. */
object Main {
  /** The session every workload runs on: the query suite's bench
    * profile (`graft.Bench`), on at most four local cores. */
  def session(work: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    val tr = new Tracer(a("trace") == "1")
    val in = a("inputs")
    val wl: Workload = a("workload") match {
      case "sf0.1-queries-streams" => new Composite(
        "suite" -> new Suite(in, work, a("seed").toLong), "streams" -> new Streams(in, work))
      case "gh-live-backfill" => new Composite(
        "live" -> new Live(in, work), "backfill" -> new Backfill(in, work))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: a fresh session plus the workload's own open step, three
    // times; the last session stays up for the run
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val spark = session(work)
      wl.open(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) spark.stop()
      dt
    }
    val spark = SparkSession.active
    val warm0 = tr.now()
    wl.warmUp(spark)
    tr.attach(spark)
    tr.spans.clear()
    tr.progress.clear()

    val from = tr.now()
    val r = wl.measure(spark, tr)
    val to = tr.now()
    tr.settle(None)
    val provenance = Map(
      "spark" -> spark.version,
      "jvm" -> System.getProperty("java.vm.version"),
      "cores" -> Runtime.getRuntime.availableProcessors,
      "spark_cores" -> spark.sparkContext.defaultParallelism,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    val check0 = tr.now()
    val check = wl.check(spark)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"),
      "setup_trials_s" -> setups,
      "phases_s" -> Map("warm_up" -> (from - warm0), "measure" -> (to - from),
        "check" -> (tr.now() - check0)),
      "attempted" -> r.attempted,
      "failed" -> r.errors.size,
      "errors" -> r.errors,
      "e2e" -> (r.e2e + ("setup_s" -> Stats.median(setups)) +
        ("peak_rss_mb" -> Stats.peakRssMb())),
      "samples" -> r.samples,
      "check" -> check,
      "provenance" -> provenance)
    if (tr.enabled) {
      val spans = tr.spans.toSeq
      out("layers") = r.layers(spans) + ("trace.uncovered_frac" ->
        Tracer.uncovered(spans, r.windows)(r.layerSpan))
      out("window_s") = Seq(from, to)
      out("spans") = tr.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end,
        "counts" -> s.counts.toMap))
    }
    spark.stop()
    Files.writeString(Paths.get(a("out")), Stats.json(out))
  }
}

/** What a workload reports from its measured windows; `layerSpan`
  * picks the spans of calls into the program's layers, for coverage. */
final case class Result(
  attempted: Int,
  errors: Seq[String],
  e2e: Map[String, Double],
  samples: Map[String, Any],
  layers: Seq[Span] => Map[String, Double],
  windows: Seq[(Double, Double)],
  layerSpan: Span => Boolean)

/** Workload parts measured one after the other in one session. Each part
  * reports the end-to-end and per-layer metrics it owns, and no metric
  * comes from two parts; samples and checks are keyed by part name. */
final class Composite(parts: (String, Workload)*) extends Workload {
  def open(spark: SparkSession): Unit = parts.foreach(_._2.open(spark))
  /** The parts warm up side by side, and check side by side. */
  def warmUp(spark: SparkSession): Unit =
    SparkLayers.parallel(parts.map(p => () => p._2.warmUp(spark)))
  def measure(spark: SparkSession, tr: Tracer): Result = {
    val rs = parts.map { case (_, w) => w.measure(spark, tr) }
    def merge(ms: Seq[Map[String, Double]]) = ms.reduce { (a, b) =>
      require((a.keySet & b.keySet).isEmpty, s"two parts report ${a.keySet & b.keySet}")
      a ++ b
    }
    Result(rs.map(_.attempted).sum, rs.flatMap(_.errors), merge(rs.map(_.e2e)),
      parts.map(_._1).zip(rs.map(_.samples)).toMap,
      spans => merge(rs.map(_.layers(spans))),
      rs.flatMap(_.windows), s => rs.exists(_.layerSpan(s)))
  }
  def check(spark: SparkSession): Map[String, Any] =
    SparkLayers.parallel(parts.map(p => () => p._1 -> p._2.check(spark))).toMap
}

trait Workload {
  /** The workload's part of set-up, after the session starts. */
  def open(spark: SparkSession): Unit
  /** One unmeasured iteration: JIT, code generation, file listings. */
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, tr: Tracer): Result
  /** Unmeasured output check pass; its result goes to the Python check. */
  def check(spark: SparkSession): Map[String, Any]
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The highest whole percentile with at least ten samples beyond it,
    * as (percentile, value); the maximum when there are ten or fewer. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val p = if (n <= 10) 100.0 else math.floor(100.0 * (n - 10) / n)
    (p, pct(xs, p))
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => graft.Json.str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.Json.str(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case arr: Array[_] => json(arr.toSeq)
    case (x, y) => json(Seq(x, y))
    case other => graft.Json.value(other)
  }
}
