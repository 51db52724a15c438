package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.fit.SlopeConfig

/** Closed-loop benchmark driver: one client, each op starts when the
  * previous one ends.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *   [--out FILE]
  *
  * Prints progress to stderr and, as the last stdout line, one JSON object
  * `{"correct", "attempted", "failed", "metrics"}` carrying every
  * end-to-end metric (untraced run) or every per-layer metric (traced run)
  * with its unit. `--out` receives the same plus the detail: per-op times,
  * sample counts, tail levels, noise readings and check failures.
  */
object Main {

  /** Workload sizes. On a 4-core host a `fit_distributed` run takes about
    * 55 s and a `clean_incremental` run about a minute. A distributed path
    * over the three-point σ grid takes 110-135 passes at n = 10 000,
    * p = 20, and its second and third steps are screened and warm-started.
    * Three problems make a cycle of about 8 s, so a 10 s run times two
    * cycles unless the host is slow. The cleaning ops cost mostly Spark job
    * launches, so the corpus stays small.
    */
  object Sizes {
    // (n, p, signal amplitude)
    val FitLocal = (5000, 50, 3.0)
    val FitDistributed = (10000, 20, 1.0)
    val DistributedGrid = Array(0.9, 0.8, 0.7)
    val CorpusSpec = Corpus.Spec(baseDocs = 300, replicas = 2)
    val Increments = 2
    val IncrementPages = 40
    val SetupRepeats = 3
  }

  val Workloads: Seq[String] = Seq("fit_local", "fit_distributed", "clean_batch",
    "clean_incremental")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace", "out")
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    val w = kv.getOrElse("workload", "")
    require(Workloads.contains(w), s"--workload must be one of ${Workloads.mkString(", ")}")
    val trace = kv.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", "--trace must be 0 or 1")
    val seconds = kv.getOrElse("seconds", "10").toInt
    require(seconds >= 1, "--seconds must be positive")
    Args(w, kv.getOrElse("seed", "1").toLong, seconds, trace == "1", kv.get("out"))
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder().appName("perfbench").master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps up to 1000 jobs, stages and SQL
      // executions on the driver heap by default; a short history keeps the
      // live heap about the engine's own state
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
    graft.util.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long,
      tracer: Tracer): Workload = {
    import Sizes._
    val binomial = SlopeConfig(family = "binomial", kktExport = true)
    name match {
      case "fit_local" =>
        val (n, p, amp) = FitLocal
        new FitWorkload(spark, seed, tracer, n, p, amp, binomial)
      case "fit_distributed" =>
        val (n, p, amp) = FitDistributed
        new FitWorkload(spark, seed, tracer, n, p, amp,
          binomial.copy(localFitThreshold = 0L, sigmaRatios = DistributedGrid))
      case "clean_batch" =>
        new CleanBatchWorkload(spark, seed, tracer, CorpusSpec)
      case "clean_incremental" =>
        new CleanIncrementalWorkload(spark, seed, tracer, CorpusSpec,
          Increments, IncrementPages)
    }
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext, args.trace)
    val w = workload(args.workload, spark, args.seed, tracer)
    try run(args, spark, w, tracer, sessionS)
    finally {
      tracer.detach()
      spark.stop()
    }
  }

  private def run(args: Args, spark: SparkSession, w: Workload, tracer: Tracer,
      sessionS: Double): Unit = {
    val cores = w.cores
    // builds that run outside ops are traced too in a traced run
    tracer.attach()
    val setupReps = (1 to Sizes.SetupRepeats).map { _ =>
      val t = System.nanoTime(); w.setup(); secondsSince(t)
    }
    val tw = System.nanoTime()
    w.warmUp()
    val warmS = secondsSince(tw)
    val setupS = sessionS + Stats.median(setupReps) + warmS
    val warmFailures = w.failures.length
    System.err.println(f"[perfbench] ${args.workload}: session $sessionS%.2fs, " +
      f"inputs ${setupReps.map(s => f"$s%.2f").mkString("/")}s, warm-up $warmS%.2fs")

    var heapPeakMb = 0.0
    var forcedGcMs = 0L
    val liveHeapMb = mutable.ArrayBuffer.empty[Double]
    val steal0 = Noise.cpuStat()
    val jit0 = Noise.jitMs()
    val gc0 = Noise.gcMs()
    val outs = mutable.ArrayBuffer.empty[OpOutcome]
    val tracedOuts = mutable.ArrayBuffer.empty[OpOutcome]
    val opS = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val tracedOps = mutable.ArrayBuffer.empty[Long]
    var failed = 0
    val cycle = w.opsPerCycle
    // a traced run alternates traced and untraced sequences, so it needs two
    val minOps = if (tracer.enabled) 2 * cycle else math.max(cycle, 2)
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || secondsSince(t0) < args.seconds || i % cycle != 0) {
      val traced = tracer.enabled && (i / cycle) % 2 == 0
      tracer.attach() // index rebuilds are traced in every traced run
      w.prepare(i)
      if (!traced) tracer.detach()
      val failuresBefore = w.failures.length
      val ts = System.nanoTime()
      var opSpan = -1L
      val out =
        try Some(tracer.call("op", -1L) { id => opSpan = id; w.op(i, id) })
        catch {
          case e: Exception =>
            w.failures += ((i, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
            e.printStackTrace()
            None
        }
      val dur = secondsSince(ts)
      if (traced) { tracer.detach(); tracedOps += opSpan }
      out.foreach { o =>
        w.check(i, o)
        w.cleanup(i)
        // the live heap after each op, collected outside the timed window
        val g = Noise.gcMs()
        val live = Noise.liveHeapMb()
        liveHeapMb += live
        heapPeakMb = math.max(heapPeakMb, live)
        forcedGcMs += Noise.gcMs() - g
        outs += o
        if (traced) tracedOuts += o
        opS += dur
        (if (traced) tracedS else untracedS) += dur
      }
      if (w.failures.length > failuresBefore) failed += 1
      i += 1
    }
    val measuredS = secondsSince(t0)
    val attempted = i
    val stealPct = Noise.stealPct(steal0, Noise.cpuStat())
    val jitS = (Noise.jitMs() - jit0) / 1e3
    val gcS = (Noise.gcMs() - gc0 - forcedGcMs) / 1e3

    val inputMb = outs.map(_.inputBytes).sum / 1e6
    val e2e: Map[String, Double] =
      if (opS.isEmpty) Map.empty
      else Map(
        "setup_s" -> setupS,
        "op_s.p50" -> Stats.median(opS.toSeq),
        "op_s.tail" -> Stats.tail(opS.toSeq)._2,
        "mb_per_s" -> inputMb / opS.sum,
        "heap_peak_mb" -> heapPeakMb)
    val isFit = w.isInstanceOf[FitWorkload]
    // a traced run reports the workload's own counts over the traced ops,
    // the same ops the layer metrics cover
    val layerOuts = if (tracer.enabled) tracedOuts else outs
    val workloadMetrics =
      if (layerOuts.isEmpty) Map.empty[String, Double] else w.metrics(layerOuts.toSeq)
    val layerMetrics =
      if (!tracer.enabled) Map.empty[String, Double]
      else new Layers(tracer, cores).metrics(tracedOps.toSeq, isFit)
    val noise = Map(
      "jvm.jit_s" -> jitS,
      "jvm.code_cache_peak_mb" -> Noise.codeCachePeakMb(),
      "jvm.gc_s" -> gcS,
      "jvm.max_heap_mb" -> Noise.maxHeapMb(),
      "host.nproc" -> cores.toDouble,
      "host.steal_pct" -> stealPct,
      "trace.overhead_frac" ->
        (if (tracedS.nonEmpty && untracedS.nonEmpty)
          Stats.median(tracedS.toSeq) / Stats.median(untracedS.toSeq) - 1.0 else 0.0),
      "fail_frac" -> failed.toDouble / attempted)
    val perLayer = Metrics.PerLayer.map(d =>
      d.name -> (layerMetrics ++ workloadMetrics ++ noise).getOrElse(d.name, 0.0)).toMap

    val correct = w.failures.isEmpty
    val reported = if (args.trace) Metrics.PerLayer else Metrics.EndToEnd
    val values = if (args.trace) perLayer else e2e
    val line = Metrics.resultLine(correct, attempted, failed,
      reported.flatMap(d => values.get(d.name).map(d -> _)))

    args.out.foreach { path =>
      import Metrics.{num, nums, numMap}
      val detail = JObject(
        "workload" -> JString(args.workload), "seed" -> JLong(args.seed),
        "seconds" -> JInt(args.seconds), "trace" -> JBool(args.trace),
        "correct" -> JBool(correct), "attempted" -> JInt(attempted),
        "failed" -> JInt(failed), "measured_s" -> num(measuredS),
        "session_s" -> num(sessionS), "setup_input_s" -> nums(setupReps),
        "warm_up_s" -> num(warmS), "warm_up_failures" -> JInt(warmFailures),
        "op_n" -> JInt(opS.length), "op_s" -> nums(opS),
        "live_heap_mb" -> nums(liveHeapMb),
        "op_s.tail_level" -> num(Stats.tailLevel(opS.length)),
        "traced_op_s" -> nums(tracedS), "untraced_op_s" -> nums(untracedS),
        "phases" -> JArray(outs.map(o => numMap(o.phases.toMap)).toList),
        "end_to_end" -> numMap(e2e), "per_layer" -> numMap(perLayer),
        "failures" -> JArray(w.failures.map { case (k, why) => JString(s"$k: $why") }.toList),
        "job_sites" -> numMap(if (tracer.enabled)
          tracer.listener.jobs.groupBy(_.site).map { case (k, v) => k -> v.length.toDouble }
          else Map.empty))
      val p = Paths.get(path)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, (compact(render(detail)) + "\n").getBytes(StandardCharsets.UTF_8))
    }
    w.close()
    println(compact(render(line)))
  }
}
