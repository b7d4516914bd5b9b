package replaybench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

object Stats {
  /** Linearly interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Metric names, units and which of them the one-line result carries. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "events_per_s" -> "events/s", "batch_latency_ms_p50" -> "ms",
    "batch_latency_ms_p90" -> "ms", "peak_rss_mb" -> "MiB")

  /** Per-layer metrics measured on every workload; the traced run's result
    * line carries exactly these. */
  val perLayer: Seq[(String, String)] = Seq(
    "driver.jobs" -> "count", "driver.tasks" -> "count", "driver.plan_ms" -> "ms",
    "driver.gap_s" -> "s", "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "scan.rows" -> "count", "scan.time_s" -> "s", "exchange.bytes_written" -> "bytes",
    "exchange.write_s" -> "s", "exchange.skew" -> "ratio", "sort.time_s" -> "s",
    "sort.peak_mem_mb" -> "MiB", "sort.spill_bytes" -> "bytes", "plans.rows_out" -> "count",
    "plans.stage_s" -> "s", "plans.self_s" -> "s", "plans.max_task_s" -> "s",
    "plans.cpu_util" -> "ratio", "plans.gc_s" -> "s", "core.fold_ns_per_event" -> "ns",
    "core.tracked_removals" -> "count", "core.levels_max" -> "count", "core.codec_bytes" -> "bytes",
    "core.codec_us" -> "us", "trace.overhead_pct" -> "%")

  /** Per-layer metrics that exist only on some workloads, or read zero on
    * a local master; printed and written to the artifact only. */
  val perLayerExtra: Seq[(String, String)] = Seq(
    "exchange.fetch_wait_s" -> "s", "plans.books" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes", "streaming.state_update_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms")

  val units: Map[String, String] = (endToEnd ++ perLayer ++ perLayerExtra :+ ("fail_ratio" -> "ratio")).toMap
}

/** Minimal JSON rendering for the result line and the artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
                      workDir: String, resultsDir: String, gitHead: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cores = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    require(cores >= 1 && cores <= Runtime.getRuntime.availableProcessors,
      s"--cores must be within 1..${Runtime.getRuntime.availableProcessors}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1", cores,
      need("work-dir"), need("results-dir"), kv.getOrElse("git-head", "unknown"))
  }
}

/** What a run measured. `perLayer` holds every traced figure that applies. */
final case class Outcome(attempted: Int, failed: Int, setupS: Double, setupParts: Map[String, Double],
                         unitSeconds: Seq[Double],
                         eventsPerS: Double, perLayer: Map[String, Double],
                         samples: Map[String, Int], sizes: Map[String, Any])

/** Seeded order-book replay benchmark. Generates a workload's events from
  * the seed, replays them through the program's public replay entry points
  * on one local Spark process, checks every output against the reference
  * model, and prints the end-to-end metrics (or, traced, the per-layer
  * ones) with a one-line JSON result last. */
object Main {
  private val MinPasses = 5
  private val WarmupBatches = 5
  /** At least ten batch latencies lie beyond the 90th percentile. */
  private val MinBatches = 100

  /** The output check: a pass that produced no digest, or another digest
    * than the reference model's, fails. */
  def matches(got: Option[Digest], expected: Digest): Boolean = got.contains(expected)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case NonFatal(_) => "unknown" }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("replaybench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(o.workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spec = Spec.of(o.workload)
    val loadStart = loadavg()
    val started = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = secondsSince(t0)
    val runId = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}-$started"
    val tracer = new Tracer(spark, runId)
    val dir = new File(o.workDir, runId).getAbsolutePath
    val outcome =
      try {
        if (spec.batchEvents > 0) runStream(spark, spec, o, tracer, dir, t0)
        else runBatch(spark, spec, o, tracer, dir, t0)
      } finally {
        tracer.enable(false)
        spark.stop()
        deleteTree(new File(dir))
      }
    report(o, outcome, sessionS, tracer, loadStart, loadavg(), runId)
  }

  /** The traced run's per-layer figures: unit means, the kernel alone, the
    * reference model's exact counts, and the tracing overhead. */
  private def layerFigures(o: Opts, spec: Spec, units: Seq[Map[String, Double]],
                           traced: Seq[Double], plain: Seq[Double],
                           trackedRemovals: Long, levelsMax: Int): Map[String, Double] =
    if (!o.trace) Map.empty
    else Layers.means(units) ++ CoreProbe.run(spec, o.seed) ++ Map(
      "core.tracked_removals" -> trackedRemovals.toDouble,
      "core.levels_max" -> levelsMax.toDouble,
      "trace.overhead_pct" -> (Stats.quantile(traced, 0.5) / Stats.quantile(plain, 0.5) - 1) * 100)

  private def runBatch(spark: SparkSession, spec: Spec, o: Opts, tracer: Tracer, dir: String,
                       t0: Long): Outcome = {
    val w = new BatchReplay(spark, spec, o.seed, dir, o.cores)
    val tg = System.nanoTime()
    val expected = w.generate()
    val generateS = secondsSince(tg)
    // The verification pass, a full replay of the same input, doubles as
    // the middle warm-up pass.
    val tw = System.nanoTime()
    var attempted = 1
    var failed = 0
    w.run(w.build())
    val got = try Some(w.digest()) catch {
      case NonFatal(e) => System.err.println(s"verification pass failed: $e"); None
    }
    if (!matches(got, expected.digest)) {
      failed += 1
      System.err.println(s"output digest $got != reference ${expected.digest}")
    }
    w.run(w.build())
    val warmupS = secondsSince(tw)
    val setupS = secondsSince(t0)

    val plain = new ArrayBuffer[Double]
    val traced = new ArrayBuffer[Double]
    val units = new ArrayBuffer[Map[String, Double]]
    val start = System.nanoTime()
    var i = 0
    // With tracing, passes alternate untraced and traced, so both halves
    // see the same drift and their ratio is the tracing overhead.
    val minEach = if (o.trace) (MinPasses + 1) / 2 else MinPasses
    while (secondsSince(start) < o.seconds || plain.size < minEach ||
      (o.trace && traced.size < minEach)) {
      tracer.enable(o.trace && i % 2 == 1)
      attempted += 1
      try {
        val t = System.nanoTime()
        tracer.span("pass") {
          val df = tracer.span("operators.build")(w.build())
          tracer.span("execute")(w.run(df))
        }
        val s = secondsSince(t)
        if (tracer.enabled) {
          traced += s
          val pass = tracer.lastSpan("pass")
          val build = tracer.lastSpan("operators.build")
          val queries = tracer.recorder.synchronized(
            tracer.recorder.queries.slice(pass.from.queries, pass.to.queries).toList)
          val buildMs = build.seconds * 1e3
          units += Layers.of(tracer.recorder, pass, queries.map(_.plan),
            buildMs + queries.map(_.planMs).sum, buildMs, build.to.jobs - build.from.jobs, o.cores)
        } else plain += s
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"pass $i failed: $e")
      }
      i += 1
    }
    tracer.enable(false)

    val perLayer = layerFigures(o, spec, units.toSeq, traced.toSeq, plain.toSeq,
      expected.trackedRemovals, expected.levelsMax)
    val medianPass = Stats.quantile(plain.toSeq, 0.5)
    Outcome(attempted, failed, setupS, Map("generate_s" -> generateS, "warmup_s" -> warmupS),
      plain.toSeq, spec.events / medianPass, perLayer,
      Map("passes" -> plain.size, "traced_passes" -> traced.size),
      Map("events" -> spec.events, "products" -> spec.products,
        "events_per_product" -> spec.eventsPerProduct, "depth" -> spec.depth, "n" -> spec.n))
  }

  private def runStream(spark: SparkSession, spec: Spec, o: Opts, tracer: Tracer, dir: String,
                        t0: Long): Outcome = {
    val w = new StreamReplay(spark, spec, o.seed, dir, o.cores)
    val tg = System.nanoTime()
    w.generate()
    val generateS = secondsSince(tg)
    tracer.enable(o.trace)
    tracer.span("operators.build")(w.start())
    val build = if (o.trace) Some(tracer.lastSpan("operators.build")) else None
    tracer.enable(false)
    try {
      var attempted = 0
      var failed = 0
      def feed(b: Int): Unit = {
        attempted += 1
        val ok = try w.batch(b) catch {
          case NonFatal(e) => System.err.println(s"batch $b failed: $e"); false
        }
        if (!ok) failed += 1
      }
      val tw = System.nanoTime()
      (0 until WarmupBatches).foreach(feed)
      val warmupS = secondsSince(tw)
      val setupS = secondsSince(t0)

      val plain = new ArrayBuffer[Double]
      val traced = new ArrayBuffer[Double]
      val units = new ArrayBuffer[Map[String, Double]]
      var b = WarmupBatches
      val start = System.nanoTime()
      // A traced run splits the batches between its two halves; it reports
      // no latency percentiles.
      val minEach = if (o.trace) MinBatches / 2 else MinBatches
      while ((secondsSince(start) < o.seconds || plain.size < minEach ||
        (o.trace && traced.size < minEach)) && b < w.maxBatches) {
        tracer.enable(o.trace && b % 2 == 1)
        val t = System.nanoTime()
        tracer.span("batch")(feed(b))
        val s = secondsSince(t)
        if (tracer.enabled) {
          traced += s
          val p = w.lastProgress
          def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          val state = p.stateOperators.headOption
          units += Layers.of(tracer.recorder, tracer.lastSpan("batch"), Seq(w.lastPlan),
            dur("queryPlanning"), build.get.seconds * 1e3, build.get.to.jobs - build.get.from.jobs,
            o.cores) ++ Map(
            "streaming.add_batch_ms" -> dur("addBatch"),
            "streaming.planning_ms" -> dur("queryPlanning"),
            "streaming.commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
            "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
            "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
            "streaming.state_update_ms" -> state.map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0),
            "streaming.state_commit_ms" -> state.map(_.commitTimeMs.toDouble).getOrElse(0.0))
        } else plain += s
        b += 1
      }
      val loopS = secondsSince(start)
      tracer.enable(false)
      if (plain.size < minEach)
        System.err.println(s"only ${plain.size} timed batches: the pre-generated stream ran out")

      val perLayer = layerFigures(o, spec, units.toSeq, traced.toSeq, plain.toSeq,
        w.trackedAfter(b - 1), w.levelsAfter(b - 1))
      val timed = b - WarmupBatches
      Outcome(attempted, failed, setupS, Map("generate_s" -> generateS, "warmup_s" -> warmupS),
        plain.toSeq, timed.toDouble * spec.batchEvents / loopS, perLayer,
        Map("batches" -> plain.size, "traced_batches" -> traced.size),
        Map("events" -> b.toLong * spec.batchEvents, "products" -> spec.products,
          "batch_events" -> spec.batchEvents, "batches" -> b, "depth" -> spec.depth, "n" -> spec.n))
    } finally w.stop()
  }

  private def report(o: Opts, r: Outcome, sessionS: Double, tracer: Tracer,
                     loadStart: String, loadEnd: String, runId: String): Unit = {
    val units = r.unitSeconds.map(_ * 1e3)
    val e2e = Map(
      "setup_s" -> r.setupS,
      "events_per_s" -> r.eventsPerS,
      "batch_latency_ms_p50" -> Stats.quantile(units, 0.5),
      "batch_latency_ms_p90" -> Stats.quantile(units, 0.9),
      "peak_rss_mb" -> peakRssMb())
    val failRatio = r.failed.toDouble / r.attempted
    val n = units.size
    val samples = Map("setup_s" -> 1, "events_per_s" -> n, "batch_latency_ms_p50" -> n,
      "batch_latency_ms_p90" -> n, "peak_rss_mb" -> 1, "fail_ratio" -> r.attempted)

    def line(name: String, v: Double, count: String): Unit =
      println(f"$name%-26s $v%16.4f ${Metrics.units(name)}%-9s $count")

    println(s"replaybench ${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"cores=${o.cores} ${r.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    println(f"setup: session ${sessionS}%.2f s, generate ${r.setupParts("generate_s")}%.2f s, " +
      f"warm-up ${r.setupParts("warmup_s")}%.2f s")
    if (!o.trace) {
      Metrics.endToEnd.foreach { case (k, _) => line(k, e2e(k), s"n=${samples(k)}") }
      line("fail_ratio", failRatio, s"n=${r.attempted}")
    } else {
      (Metrics.perLayer ++ Metrics.perLayerExtra).foreach { case (k, _) =>
        r.perLayer.get(k).foreach(v => line(k, v, ""))
      }
    }

    val correct = r.failed == 0
    val shown = if (o.trace) Metrics.perLayer.map { case (k, u) => k -> (r.perLayer(k), u) }
      else Metrics.endToEnd.map { case (k, u) => k -> (e2e(k), u) }
    val metrics = shown.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val stamp = Map(
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "sizes" -> r.sizes, "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> o.cores, "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "jvm_xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> rt.getInputArguments.toArray.toSeq.map(_.toString).filter(_.startsWith("-X")),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "git_head" -> o.gitHead, "setup_parts" -> (r.setupParts + ("session_s" -> sessionS)))
    val artifact = Map(
      "stamp" -> stamp, "correct" -> correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "fail_ratio" -> failRatio,
      "end_to_end" -> (if (o.trace) Map.empty else e2e.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Metrics.units(k), "samples" -> samples(k)) }),
      "per_layer" -> r.perLayer.map { case (k, v) => k -> Map("value" -> v, "unit" -> Metrics.units(k)) },
      "samples" -> r.samples, "unit_ms" -> units,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    new File(o.resultsDir).mkdirs()
    Files.write(Paths.get(o.resultsDir, s"$runId.json"), Json(artifact).getBytes(StandardCharsets.UTF_8))

    println(Json(Map("correct" -> correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
