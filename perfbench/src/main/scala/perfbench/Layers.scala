package perfbench

/** Per-layer numbers from a traced run: the benchmark's spans plus the
  * listener's job spans, attributed to engine modules by Spark's call site.
  * All per-op numbers are means over the traced ops.
  */
final class Layers(tracer: Tracer, cores: Int) {
  private val jobs = tracer.listener.synchronized(tracer.listener.jobs.toVector)
  private val stageAggs = tracer.listener.synchronized(tracer.listener.stages.toMap)
  // a stage listed by several jobs (AQE re-submits, skipped stages) ran
  // under the first job that listed it
  private val stageOwner: Map[Int, Int] =
    jobs.flatMap(j => j.stageIds.map(_ -> j.jobId)).reverse.toMap

  def stagesOf(j: JobRec): Seq[StageAgg] =
    j.stageIds.filter(s => stageOwner.get(s).contains(j.jobId)).flatMap(stageAggs.get)

  def jobsUnder(root: Long): Seq[JobRec] = {
    val ids = tracer.subtree(root)
    jobs.filter(j => ids(j.span) && j.endMs >= 0)
  }

  def jobMs(j: JobRec): Double = (j.endMs - j.startMs).toDouble

  /** The span's duration minus the time its jobs cover, in seconds. */
  def selfS(root: Long): Double = tracer.span(root).map { s =>
    Spans.selfTimeMs(s, jobsUnder(root).map(j =>
      Span(j.jobId, root, j.site, j.startMs.toDouble, j.endMs.toDouble))) / 1e3
  }.getOrElse(0.0)

  /** Totals over a set of jobs. */
  final case class Totals(jobs: Int, wallS: Double, stages: Int, tasks: Int,
      taskS: Double, cpuS: Double, gcS: Double, shuffleWriteMb: Double,
      shuffleReadMb: Double, spillMb: Double, schedDelayS: Double)

  def totals(js: Seq[JobRec]): Totals = {
    val st = js.flatMap(stagesOf)
    Totals(js.length, js.map(jobMs).sum / 1e3, st.length, st.map(_.tasks).sum,
      st.map(_.runMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9,
      st.map(_.gcMs).sum / 1e3, st.map(_.shuffleWriteBytes).sum / 1e6,
      st.map(_.shuffleReadBytes).sum / 1e6, st.map(_.spillBytes).sum / 1e6,
      st.map(_.schedDelayMs).sum / 1e3)
  }

  /** Child spans of `parent` named `name`. */
  def children(parent: Long, name: String): Seq[Long] =
    tracer.spans.filter(s => s.parent == parent && s.name == name).map(_.id).toSeq

  def roots(name: String): Seq[Long] = children(-1L, name)

  /** Per-layer metrics over the traced ops `ops` (root span ids). */
  def metrics(ops: Seq[Long], fit: Boolean): Map[String, Double] = {
    def perOp(f: Long => Double): Double = Stats.mean(ops.map(f))
    def ofFile(root: Long, file: String) = jobsUnder(root).filter(_.site == file)
    val all = ops.map(r => totals(jobsUnder(r)))
    val m = Map.newBuilder[String, Double]

    m ++= Seq(
      "spark.jobs" -> Stats.mean(all.map(_.jobs.toDouble)),
      "spark.stages" -> Stats.mean(all.map(_.stages.toDouble)),
      "spark.tasks" -> Stats.mean(all.map(_.tasks.toDouble)),
      "spark.sched_delay_s" -> Stats.mean(all.map(_.schedDelayS)),
      "spark.gc_s" -> Stats.mean(all.map(_.gcS)))

    val passes = ops.flatMap(ofFile(_, "RddOps"))
    def q(xs: Seq[Double], f: Seq[Double] => Double) = if (xs.isEmpty) 0.0 else f(xs)
    val passMs = passes.map(jobMs)
    m ++= Seq(
      "fit.RddOps.jobs" -> perOp(ofFile(_, "RddOps").length.toDouble),
      "fit.SlopeEstimator.jobs" -> perOp(ofFile(_, "SlopeEstimator").length.toDouble),
      "fit.pass_ms.p50" -> q(passMs, Stats.median),
      "fit.pass_ms.tail" -> q(passMs, Stats.tail(_)._2),
      "fit.pass_launch_ms.p50" -> q(passes.map(j =>
        jobMs(j) - (stagesOf(j).flatMap(_.taskMs) :+ 0L).max), Stats.median),
      "fit.task_ms.p50" -> q(passes.flatMap(stagesOf).flatMap(_.taskMs).map(_.toDouble),
        Stats.median),
      "fit.SlopeEstimator.wall_s" -> perOp(ofFile(_, "SlopeEstimator").map(jobMs).sum / 1e3),
      "fit.RddOps.wall_s" -> perOp(ofFile(_, "RddOps").map(jobMs).sum / 1e3),
      "fit.driver_self_s" -> (if (fit) perOp(selfS) else 0.0))

    for (f <- Metrics.PipelineFiles) {
      val t = ops.map(r => totals(ofFile(r, f)))
      m ++= Seq(
        s"pipeline.$f.jobs" -> Stats.mean(t.map(_.jobs.toDouble)),
        s"pipeline.$f.wall_s" -> Stats.mean(t.map(_.wallS)),
        s"pipeline.$f.task_s" -> Stats.mean(t.map(_.taskS)),
        s"pipeline.$f.cpu_s" -> Stats.mean(t.map(_.cpuS)),
        s"pipeline.$f.gc_s" -> Stats.mean(t.map(_.gcS)),
        s"pipeline.$f.shuffle_write_mb" -> Stats.mean(t.map(_.shuffleWriteMb)),
        s"pipeline.$f.shuffle_read_mb" -> Stats.mean(t.map(_.shuffleReadMb)),
        s"pipeline.$f.spill_mb" -> Stats.mean(t.map(_.spillMb)))
    }
    val opWallS = ops.flatMap(tracer.span).map(_.durationMs / 1e3)
    m ++= Seq(
      "pipeline.slot_util" -> (if (fit || opWallS.sum == 0) 0.0
        else all.map(_.taskS).sum / (opWallS.sum * cores)),
      "pipeline.driver_self_s" -> (if (fit) 0.0 else perOp(selfS)))

    def callMetrics(call: String, key: String) = {
      val calls = ops.flatMap(children(_, call))
      val t = calls.map(c => totals(jobsUnder(c)))
      Seq(s"index.$key.jobs" -> Stats.mean(t.map(_.jobs.toDouble)),
        s"index.$key.task_s" -> Stats.mean(t.map(_.taskS)),
        s"index.$key.driver_self_s" -> Stats.mean(calls.map(selfS)))
    }
    m ++= callMetrics("CleanPipeline.incrementalFullClean", "probe")
    m ++= callMetrics("CleanPipeline.updateFullCleanIndex", "fold")
    m += "index.build.jobs" -> Stats.mean(
      roots("CleanPipeline.buildFullCleanIndex").map(b => jobsUnder(b).length.toDouble))
    m.result()
  }
}
