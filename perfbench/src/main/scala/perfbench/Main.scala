package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: Path, value: Any): Unit =
    Files.writeString(path, mapper.writeValueAsString(value))
}

/** One pass as measured: wall and task CPU of the timed region, its job
  * count, per-layer totals (traced passes only) and failed checks.
  */
final case class PassResult(traced: Boolean, wallS: Double, cpuS: Double,
    jobs: Int, layers: Map[String, LayerAgg], failures: Seq[String])

/** Runs one workload in a `local[cores]` session: set-up (session, seeded
  * inputs, untimed warm-up passes), then passes until `--seconds` have
  * elapsed, restoring pristine inputs before and checking the output
  * after every pass. With `--trace 1` it alternates untraced and traced
  * passes and reports per-layer metrics; otherwise the end-to-end ones.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  val Spans: Seq[String] = Seq("anonymizer.plan", "io.read", "io.stage",
    "io.commit", "blueprint.mask") ++
    Workloads.Linkage.flatMap(q =>
      Seq(s"pipeline.$q.build", s"pipeline.$q.sink"))
  private val GenerateRepeats = 3

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeS(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Path.of(opts("work"))
    val cores = Runtime.getRuntime.availableProcessors()

    val sessionS0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val counters = new JobCounters
    sc.addSparkListener(counters)
    val sessionS = (System.nanoTime() - sessionS0) / 1e9

    val w = Workloads(name, spark, seed, work, cores)
    val generateS = median((1 to GenerateRepeats).map(_ => timeS(w.generate())))
    val prepareS = timeS(w.prepare())

    // each pass starts as a fresh anonymization job would: nothing cached
    // (RowNumbers persists its ranged frame, and a later identical plan
    // would read that cache instead of doing the work)
    def dropCaches(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    def runPass(traced: Boolean): PassResult = {
      w.restore()
      val tracer = new Tracer(sc, traced)
      val mark = counters.mark
      if (traced) w.probe(tracer)
      dropCaches()
      val passMark = counters.mark
      val t0 = System.nanoTime()
      val error =
        try { tracer.open("pass"); w.pass(tracer); None }
        catch { case e: Throwable => Some(s"pass threw: $e") }
        finally tracer.close("pass")
      val wall = (System.nanoTime() - t0) / 1e9
      BusDrain(sc)
      val jobs = counters.since(passMark)
      val layers =
        if (traced) Trace.aggregate(tracer.spans.toSeq, counters.since(mark))
        else Map.empty[String, LayerAgg]
      val failures = error.toSeq ++ (if (error.nonEmpty) Nil else
        try w.check() catch { case e: Throwable => Seq(s"check threw: $e") })
      failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
      PassResult(traced, wall, jobs.map(_.cpuNs).sum / 1e9, jobs.size,
        layers, failures)
    }

    val results = mutable.ArrayBuffer.empty[PassResult]
    val warmS = timeS((1 to w.warmups).foreach(_ => results += runPass(false)))
    val setupS = sessionS + generateS + prepareS + warmS

    val minPasses = if (trace) 6 else 3
    val measured = mutable.ArrayBuffer.empty[PassResult]
    val m0 = System.nanoTime()
    while (measured.size < minPasses || (System.nanoTime() - m0) / 1e9 < seconds)
      measured += runPass(trace && measured.size % 2 == 1)
    results ++= measured
    val rss = peakRssMb()

    val attempted = results.size
    val failed = results.count(_.failures.nonEmpty)
    // once, after the timed passes: its extra shuffles slowed the pass
    // that followed them
    val counts =
      if (trace && failed == 0) w.tracedCounts() else Map.empty[String, Double]
    val untraced = measured.filterNot(_.traced)
    val wall = median(untraced.map(_.wallS))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("wall_s", wall, "s"),
        ("rows_per_s", w.sourceRows / wall, "rows/s"),
        ("task_cpu_s", median(untraced.map(_.cpuS)), "s"),
        ("sink_bytes", w.sinkBytes.toDouble, "bytes"),
        ("setup_s", setupS, "s"),
        ("error_rate", failed.toDouble / attempted, "fraction"))
      else {
        val traced = measured.filter(_.traced)
        val none = LayerAgg(0, 0, 0, 0, 0, 0, 0, 0)
        def layer(f: LayerAgg => Double)(span: String): Double =
          median(traced.map(p => f(p.layers.getOrElse(span, none))))
        Spans.flatMap { s =>
          Seq((s"$s.wall_s", layer(_.wall)(s), "s"),
            (s"$s.jobs", layer(_.jobs.toDouble)(s), "count"),
            (s"$s.task_cpu_s", layer(_.cpuS)(s), "s"),
            (s"$s.driver_gap_s", layer(_.gapS)(s), "s"),
            (s"$s.shuffle_write_mb", layer(_.shuffleMb)(s), "MB"),
            (s"$s.spill_mb", layer(_.spillMb)(s), "MB"))
        } ++ Seq(
          ("io.stage.rows_written", layer(_.rowsWritten.toDouble)("io.stage"),
            "count"),
          ("io.rows_changed_ratio",
            counts.getOrElse("io.rows_changed_ratio", 0.0), "fraction"),
          ("jvm.peak_rss_mb", rss, "MB"),
          ("trace.self_sum_s",
            median(traced.map(p => p.layers.get("pass")
              .fold(0.0)(a => a.wall - a.self))), "s"),
          ("trace.untraced_wall_s", wall, "s"),
          ("trace.overhead_s", median(traced.map(_.wallS)) - wall, "s"))
      }
    val passJobs = untraced.map(_.jobs)
    Json.write(work.resolve("result.json"), ListMap(
      "workload" -> name,
      "seed" -> seed,
      "cores" -> cores,
      "trace" -> trace,
      "source_rows" -> w.sourceRows,
      "input_bytes" -> w.inputBytes,
      "peak_rss_mb" -> rss,
      "warmups" -> w.warmups,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> results.flatMap(_.failures).take(5).toSeq,
      "passes" -> results.map(p => ListMap("traced" -> p.traced,
        "wall_s" -> p.wallS, "task_cpu_s" -> p.cpuS, "jobs" -> p.jobs)).toSeq,
      "setup" -> ListMap("session_s" -> sessionS, "generate_s" -> generateS,
        "prepare_s" -> prepareS, "warmup_s" -> warmS),
      "jobs_per_pass" -> untraced.map(_.jobs).toSeq,
      "metrics" -> ListMap(metrics.map { case (k, v, u) =>
        k -> ListMap("value" -> v, "unit" -> u)
      }: _*)))
    w.close()
    spark.stop()
  }
}
