package perfbench

import org.json4s._

/** Every metric the benchmark reports, with its unit. An untraced run
  * prints exactly the end-to-end set, a traced run exactly the per-layer
  * set; `BENCHMARK.json` lists the same names (a test pins the match).
  * A per-layer metric of a layer that a workload does not run reads 0.
  */
object Metrics {

  final case class Def(name: String, unit: String)

  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("op_s.p50", "s"),
    Def("op_s.tail", "s"),
    Def("mb_per_s", "MB/s"),
    Def("heap_peak_mb", "MB"))

  /** Engine files whose jobs the pipeline layer reports one by one. */
  val PipelineFiles: Seq[String] = Seq("ParagraphDedup", "Dedup", "CleanPipeline")

  private val perFile: Seq[Def] = for {
    f <- PipelineFiles
    (m, u) <- Seq("jobs" -> "count", "wall_s" -> "s", "task_s" -> "s",
      "cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB",
      "shuffle_read_mb" -> "MB", "spill_mb" -> "MB")
  } yield Def(s"pipeline.$f.$m", u)

  val PerLayer: Seq[Def] = Seq(
    Def("fit.steps", "count"),
    Def("fit.data_passes", "count"),
    Def("fit.solver_passes", "count"),
    Def("fit.solver_pass_frac", "ratio"),
    Def("fit.kkt_repairs", "count"),
    Def("fit.stall_exits", "count"),
    Def("slope.strong_set_mean", "count"),
    Def("slope.screen_precision", "ratio"),
    Def("fit.RddOps.jobs", "count"),
    Def("fit.SlopeEstimator.jobs", "count"),
    Def("fit.pass_ms.p50", "ms"),
    Def("fit.pass_ms.tail", "ms"),
    Def("fit.pass_launch_ms.p50", "ms"),
    Def("fit.task_ms.p50", "ms"),
    Def("fit.SlopeEstimator.wall_s", "s"),
    Def("fit.RddOps.wall_s", "s"),
    Def("fit.driver_self_s", "s")) ++
    perFile ++ Seq(
    Def("pipeline.slot_util", "ratio"),
    Def("pipeline.driver_self_s", "s"),
    Def("pipeline.kept_char_frac", "ratio"),
    Def("probe_s.p50", "s"),
    Def("probe_s.tail", "s"),
    Def("fold_s.p50", "s"),
    Def("index_build_s", "s"),
    Def("index.build.jobs", "count"),
    Def("index.probe.jobs", "count"),
    Def("index.fold.jobs", "count"),
    Def("index.probe.task_s", "s"),
    Def("index.fold.task_s", "s"),
    Def("index.probe.driver_self_s", "s"),
    Def("index.fold.driver_self_s", "s"),
    Def("index.persisted_mb", "MB"),
    Def("index.plan_nodes", "count"),
    Def("index.fold_s.slope", "s/op"),
    Def("index.probe_cut_frac", "ratio"),
    Def("index.shared_share", "ratio"),
    Def("spark.jobs", "count"),
    Def("spark.stages", "count"),
    Def("spark.tasks", "count"),
    Def("spark.sched_delay_s", "s"),
    Def("spark.gc_s", "s"),
    Def("jvm.jit_s", "s"),
    Def("jvm.code_cache_peak_mb", "MB"),
    Def("jvm.gc_s", "s"),
    Def("jvm.max_heap_mb", "MB"),
    Def("host.nproc", "count"),
    Def("host.steal_pct", "%"),
    Def("trace.overhead_frac", "ratio"),
    Def("fail_frac", "ratio"))

  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
  val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}"

  /** A measured number; a non-finite one renders as null. */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  def nums(xs: Iterable[Double]): JValue = JArray(xs.map(num).toList)

  /** Numbers by name, in name order. */
  def numMap(m: Map[String, Double]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> num(v) })

  /** The run's last stdout line: `{"correct", "attempted", "failed",
    * "metrics": {name: {"value", "unit"}}}`, metrics in the given order.
    */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(Def, Double)]): JValue =
    JObject(
      "correct" -> JBool(correct),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "metrics" -> JObject(metrics.map { case (d, v) =>
        d.name -> JObject("value" -> num(v), "unit" -> JString(d.unit))
      }.toList))
}
