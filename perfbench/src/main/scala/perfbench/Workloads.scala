package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fit.{KktCertificate, RandomProblem, SlopeConfig, SlopeEstimator, SlopeFit, SolverConfig}
import graft.pipeline.CleanPipeline
import graft.slope.{Binomial, MathUtil, Screening}

/** What one timed op produced. `phases` splits the op's wall time by the
  * public call that spent it; `result` is checked after the clock stops.
  */
final case class OpOutcome(inputBytes: Long, phases: Seq[(String, Double)],
    result: Any)

/** One benchmark workload. The driver calls [[setup]] several times (each
  * call replaces the previous inputs), then [[warmUp]] once, then
  * [[prepare]] and [[op]] per op; only [[op]] is timed.
  */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Failed output checks, by op index (-1: warm-up and set-up checks). */
  val failures: mutable.ArrayBuffer[(Int, String)] = mutable.ArrayBuffer.empty
  /** Ops in one fixed sequence; a run stops only at a sequence boundary. */
  def opsPerCycle: Int = 1

  def setup(): Unit
  def warmUp(): Unit
  /** Untimed work before op `i` (the incremental workload's index rebuild). */
  def prepare(i: Int): Unit = ()
  def op(i: Int, opSpan: Long): OpOutcome
  /** Check op `i`'s outcome; false records a failure. */
  def check(i: Int, out: OpOutcome): Boolean
  /** Release what op `i` left persisted. */
  def cleanup(i: Int): Unit = ()
  /** Extra metrics of this workload, from the ops of the run. */
  def metrics(outs: Seq[OpOutcome]): Map[String, Double]
  def close(): Unit

  protected def fail(i: Int, why: String): Boolean = {
    failures += ((i, why)); System.err.println(s"[perfbench] op $i: $why"); false
  }

  protected def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist every RDD persisted now that was not in `before`. */
  protected def releaseNew(before: Set[Int]): Unit =
    releaseIds(persistentIds() -- before)

  protected def releaseIds(ids: Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
  }
}

/** The pieces schema run to a `noop` sink, with the facts the checks need
  * observed on the same pass: row count, text chars, an order-independent
  * digest of `(doc_id, piece_idx, st, en, text)` and the id range.
  */
final case class SinkFacts(rows: Long, chars: Long, digest: Long,
    minId: Long, maxId: Long)

object Sink {
  def run(pieces: DataFrame): SinkFacts = {
    val obs = Observation()
    pieces.observe(obs,
        count(lit(1)).as("rows"),
        coalesce(sum(length(col("text")).cast("long")), lit(0L)).as("chars"),
        coalesce(bit_xor(xxhash64(col("doc_id"), col("piece_idx"), col("st"),
          col("en"), col("text"))), lit(0L)).as("digest"),
        coalesce(min(col("doc_id").cast("long")), lit(Long.MaxValue)).as("min_id"),
        coalesce(max(col("doc_id").cast("long")), lit(Long.MinValue)).as("max_id"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    SinkFacts(m("rows").asInstanceOf[Long], m("chars").asInstanceOf[Long],
      m("digest").asInstanceOf[Long], m("min_id").asInstanceOf[Long],
      m("max_id").asInstanceOf[Long])
  }
}

object Checks {
  private val Token = "[a-z0-9]+".r

  def tokens(s: String): Array[String] =
    Token.findAllIn(s.toLowerCase).toArray

  /** Whether `piece` (space-joined tokens) is a contiguous token range of
    * some in-order selection of the paragraphs of `doc` — i.e. a substring
    * of the document once the paragraphs that cleaning dropped are removed.
    */
  def pieceOfDoc(piece: String, doc: String): Boolean = {
    val t = tokens(piece)
    val pars = doc.split(Corpus.Separator).map(tokens).filter(_.nonEmpty)
    if (t.isEmpty) return true
    // states: (paragraph, position) the next piece token must match
    var states: Set[(Int, Int)] = (for {
      j <- pars.indices; k <- pars(j).indices if pars(j)(k) == t(0)
    } yield (j, k)).toSet
    var i = 0
    while (i < t.length && states.nonEmpty) {
      val matched = states.filter { case (j, k) => pars(j)(k) == t(i) }
      if (i == t.length - 1) return matched.nonEmpty
      states = matched.flatMap { case (j, k) =>
        if (k + 1 < pars(j).length) Set((j, k + 1))
        else ((j + 1) until pars.length).map(j2 => (j2, 0)).toSet
      }
      i += 1
    }
    false
  }

  /** The batch chain's warm-up invariants over collected pieces. */
  def pieces(rows: Seq[Row], input: Map[Long, String]): Option[String] = {
    val bad = rows.find { r =>
      val id = r.getAs[Any]("doc_id").toString.toLong
      !input.contains(id) || !pieceOfDoc(r.getAs[String]("text"), input(id))
    }
    bad.map(r => s"piece of doc ${r.getAs[Any]("doc_id")} is not drawn from its input")
  }
}

// ---- SLOPE path fits ---------------------------------------------------------

/** Binomial SLOPE path fits through `SlopeEstimator.fit` on
  * `RandomProblem` designs. Problem `k` is the same design under every
  * seed, with its rows in a seeded order, so a seed changes the partition
  * contents and summation order but not the path's pass count (designs
  * drawn per seed vary it by about ±10 %, more than the op-time bound).
  * Op `i` fits problem `i mod Problems` and a run fits whole cycles of
  * problems. The warm-up fits every problem, so each later fit is a repeat
  * and must reproduce the first fit's step count and supports.
  */
final class FitWorkload(spark: SparkSession, seed: Long, tracer: Tracer,
    n: Int, p: Int, amplitude: Double, cfg: SlopeConfig)
    extends Workload(spark, seed, tracer) {

  /** Distinct designs; three make a cycle of about 8 s on `fit_distributed`. */
  private val Problems = 3
  private val featureCols = (0 until p).map(j => s"x$j")
  private var frames: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var inputRdds: Set[Int] = Set.empty
  private val reference = mutable.Map.empty[Int, Seq[Seq[Int]]]
  private var before: Set[Int] = Set.empty
  private val inputBytes = n.toLong * p * 8
  private val tolCert = 3.0 * SolverConfig().tolInfeas

  private def frame(k: Int): DataFrame = {
    val pr = RandomProblem(n, p, amplitude = amplitude, family = Binomial,
      seed = 1000003L * (k + 1))
    val schema = StructType(StructField("label", StringType) +:
      featureCols.map(StructField(_, DoubleType)))
    val order = new scala.util.Random(seed * 1000003L + k).shuffle((0 until n).toVector)
    val rows = order.map(i =>
      Row.fromSeq(pr.rawLabels(i) +: (0 until p).map(j => pr.x(i, j))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema)
      .localCheckpoint()
  }

  def setup(): Unit = {
    releaseIds(inputRdds)
    val pre = persistentIds()
    frames = (0 until Problems).map(frame)
    inputRdds = persistentIds() -- pre
  }

  override def opsPerCycle: Int = Problems

  /** Fits every problem twice: op times settle after several hundred
    * distributed passes, while the JIT compiles the solver and Spark's job
    * path.
    */
  def warmUp(): Unit = for (_ <- 1 to 2; k <- 0 until Problems) {
    val out = op(k, -1L)
    cleanup(-1)
    check(-1, out)
  }

  def op(i: Int, opSpan: Long): OpOutcome = {
    before = persistentIds()
    val k = math.floorMod(i, Problems)
    val model = tracer.call("SlopeEstimator.fit", opSpan)(_ =>
      SlopeEstimator.fit(frames(k), featureCols, "label", cfg))
    OpOutcome(inputBytes, Nil, (k, model.fit))
  }

  override def cleanup(i: Int): Unit = releaseNew(before)

  private def supports(f: SlopeFit): Seq[Seq[Int]] = {
    val skip = if (f.intercept) 1 else 0
    f.betas.map(b => (skip until b.rows).filter(r =>
      (0 until b.cols).exists(c => b(r, c) != 0.0)))
  }

  def check(i: Int, out: OpOutcome): Boolean = {
    val (k, f) = out.result.asInstanceOf[(Int, SlopeFit)]
    val badStep = KktCertificate.infeasibilities(f).find { case (_, inf, lam0) =>
      inf > math.max(math.sqrt(MathUtil.Eps), tolCert * lam0)
    }
    val sup = supports(f)
    if (f.betas.isEmpty) fail(i, s"problem $k: empty path")
    else if (f.kktState.length != f.betas.length)
      fail(i, s"problem $k: KKT state for ${f.kktState.length} of ${f.betas.length} steps")
    else if (badStep.nonEmpty)
      fail(i, s"problem $k: step ${badStep.get._1} infeasibility ${badStep.get._2}")
    else reference.get(k) match {
      case Some(ref) if ref != sup =>
        fail(i, s"problem $k: path differs from its first fit (${ref.length} vs ${sup.length} steps)")
      case Some(_) => true
      case None => reference(k) = sup; true
    }
  }

  /** Strong-set sizes per step, recomputed with the engine's own strong
    * rule from the exported KKT state (gradient at the previous step's
    * solution, previous and current λ·σ); the first step has no exported
    * predecessor and is skipped.
    */
  private def strongSets(f: SlopeFit): Seq[(Int, Int)] =
    (1 until f.kktState.length).map { k =>
      val (gPrev, _, lamPrev) = f.kktState(k - 1)
      val lam = f.kktState(k)._3
      val strong = Screening.strongSet(gPrev, lam, lamPrev, f.intercept).length -
        (if (f.intercept) 1 else 0)
      (strong, f.nonzeros(k))
    }

  def metrics(outs: Seq[OpOutcome]): Map[String, Double] = {
    val fits = outs.map(_.result.asInstanceOf[(Int, SlopeFit)]._2)
    def per(v: SlopeFit => Double) = Stats.mean(fits.map(v))
    val strong = fits.flatMap(strongSets)
    val dataPasses = per(_.dataPasses.toDouble)
    val solverPasses = per(_.passes.sum.toDouble)
    Map(
      "fit.steps" -> per(_.betas.length.toDouble),
      "fit.data_passes" -> dataPasses,
      "fit.solver_passes" -> solverPasses,
      "fit.solver_pass_frac" -> (if (dataPasses > 0) solverPasses / dataPasses else 0.0),
      "fit.kkt_repairs" -> per(_.violations.map(_.length).sum.toDouble),
      "fit.stall_exits" -> per(_.stallExits.count(identity).toDouble),
      "slope.strong_set_mean" -> Stats.mean(strong.map(_._1.toDouble)),
      "slope.screen_precision" ->
        Stats.mean(strong.filter(_._1 > 0).map { case (s, a) => a.toDouble / s }))
  }

  def close(): Unit = releaseIds(inputRdds)
}

// ---- Corpus cleaning ---------------------------------------------------------

object CleanWorkloads {
  def frame(spark: SparkSession, pages: Seq[Corpus.Page], cores: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(pages.map(p => (p.id, p.text)), cores)
      .toDF("doc_id", "text").localCheckpoint()
  }

  /** Collect `pieces`, check the piece invariants against `input`, and
    * observe the collected rows the way [[Sink.run]] observes a sink, so
    * the facts are comparable with later ops'.
    */
  def collectChecked(pieces: DataFrame, input: Seq[Corpus.Page]): (SinkFacts, Option[String]) = {
    val rows = pieces.collect().toSeq
    val spark = pieces.sparkSession
    val facts = Sink.run(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), pieces.schema))
    (facts, Checks.pieces(rows, input.map(p => p.id -> p.text).toMap))
  }

  /** Invariants any cleaned output must meet. */
  def checkFacts(f: SinkFacts, inputChars: Long, minId: Long,
      maxId: Long): Option[String] =
    if (f.chars > inputChars) Some(s"output chars ${f.chars} > input chars $inputChars")
    else if (f.rows > 0 && (f.minId < minId || f.maxId > maxId))
      Some(s"output ids [${f.minId}, ${f.maxId}] outside input [$minId, $maxId]")
    else None
}

/** `CleanPipeline.fullCleanCorpus` over the seeded page corpus, to a
  * `noop` sink. Every op cleans the same corpus, so each op's output
  * digest must equal the warm-up's, whose pieces are collected and checked
  * against the input.
  */
final class CleanBatchWorkload(spark: SparkSession, seed: Long,
    tracer: Tracer, spec: Corpus.Spec) extends Workload(spark, seed, tracer) {

  private var corpus: IndexedSeq[Corpus.Page] = IndexedSeq.empty
  private var df: DataFrame = _
  private var inputRdds: Set[Int] = Set.empty
  private var bytes = 0L
  private var ref: SinkFacts = _
  private var before: Set[Int] = Set.empty

  def setup(): Unit = {
    releaseIds(inputRdds)
    val pre = persistentIds()
    corpus = Corpus.generate(seed, spec).corpus
    bytes = Corpus.textBytes(corpus)
    df = CleanWorkloads.frame(spark, corpus, cores)
    inputRdds = persistentIds() -- pre
  }

  def warmUp(): Unit = {
    val pre = persistentIds()
    val (facts, bad) = CleanWorkloads.collectChecked(
      CleanPipeline.fullCleanCorpus(df), corpus)
    releaseNew(pre)
    bad.foreach(fail(-1, _))
    if (check(-1, OpOutcome(bytes, Nil, facts))) ref = facts
  }

  def op(i: Int, opSpan: Long): OpOutcome = {
    before = persistentIds()
    val facts = tracer.call("CleanPipeline.fullCleanCorpus", opSpan)(_ =>
      Sink.run(CleanPipeline.fullCleanCorpus(df)))
    OpOutcome(bytes, Nil, facts)
  }

  override def cleanup(i: Int): Unit = releaseNew(before)

  def check(i: Int, out: OpOutcome): Boolean = {
    val f = out.result.asInstanceOf[SinkFacts]
    CleanWorkloads.checkFacts(f, bytes, 0L, corpus.length - 1L).map(fail(i, _))
      .getOrElse(if (ref != null && f != ref) fail(i, s"$f != warm-up $ref") else true)
  }

  def metrics(outs: Seq[OpOutcome]): Map[String, Double] = Map(
    "pipeline.kept_char_frac" -> Stats.mean(outs.map(o =>
      o.result.asInstanceOf[SinkFacts].chars.toDouble / bytes)))

  def close(): Unit = releaseIds(inputRdds)
}

/** One increment's probe facts and the folded index's watermark. */
final case class IncResult(pos: Int, facts: SinkFacts, watermark: Long)

/** The incremental full-clean lifecycle: build a `FullCleanIndex` over the
  * corpus, then for each of a fixed sequence of increments probe it
  * (`incrementalFullClean` to a `noop` sink) and fold it
  * (`updateFullCleanIndex`), retiring the superseded index. One op is one
  * increment's probe plus fold. The warm-up runs the whole sequence once
  * (collecting and checking the first probe's pieces) and records each
  * probe's facts; before each timed sequence the index is rebuilt
  * (untimed, reported as `index_build_s`), so every timed probe must
  * reproduce the warm-up's facts at the same position.
  */
final class CleanIncrementalWorkload(spark: SparkSession, seed: Long,
    tracer: Tracer, spec: Corpus.Spec, increments: Int, incrementPages: Int)
    extends Workload(spark, seed, tracer) {
  import CleanPipeline.FullCleanIndex

  override def opsPerCycle: Int = increments

  private var gen: Corpus.Generated = _
  private var corpusDf: DataFrame = _
  private var incDfs: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var incBytes: IndexedSeq[Long] = IndexedSeq.empty
  private var inputRdds: Set[Int] = Set.empty
  private var baselineStorage = 0L
  private var index: FullCleanIndex = _
  /** RDDs persisted by this sequence's build and folds. The folded frames'
    * lineage reaches back through every fold's local checkpoints (Spark
    * may re-cache a folded frame once the frame it was derived from is
    * unpersisted), so they are released only with the whole sequence.
    */
  private var indexOwned: Set[Int] = Set.empty
  private var folded = 0
  private val refs = mutable.Map.empty[Int, SinkFacts]
  private var probeOwned: Set[Int] = Set.empty
  /** Collect and check the next probe's pieces instead of sinking them. */
  private var collectNextProbe = false

  private val buildS = mutable.ArrayBuffer.empty[Double]
  private val persistedMb = mutable.ArrayBuffer.empty[Double]
  private val planNodes = mutable.ArrayBuffer.empty[Double]

  private def storageBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  private def retire(): Unit = if (index != null) {
    index.unpersist()
    releaseIds(indexOwned)
    index = null; indexOwned = Set.empty
  }

  private def build(): Unit = {
    retire()
    val pre = persistentIds()
    val t0 = System.nanoTime()
    index = tracer.call("CleanPipeline.buildFullCleanIndex", -1L) { _ =>
      val idx = CleanPipeline.buildFullCleanIndex(corpusDf)
      materialize(idx); idx
    }
    buildS += (System.nanoTime() - t0) / 1e9
    indexOwned = persistentIds() -- pre
    folded = 0
  }

  private def frames(idx: FullCleanIndex): Seq[DataFrame] = Seq(idx.para.units,
    idx.nearDup.docStore, idx.nearDup.bands, idx.substr.grams, idx.corpusFps)

  /** Fill the index's lazily persisted frames before the superseded index
    * is released, as the engine's streaming fold does.
    */
  private def materialize(idx: FullCleanIndex): Unit = frames(idx).foreach(_.count())

  def setup(): Unit = {
    retire()
    releaseIds(inputRdds)
    val pre = persistentIds()
    gen = Corpus.generate(seed, spec, increments, incrementPages)
    corpusDf = CleanWorkloads.frame(spark, gen.corpus, cores)
    incDfs = gen.increments.map(CleanWorkloads.frame(spark, _, cores))
    incBytes = gen.increments.map(Corpus.textBytes)
    inputRdds = persistentIds() -- pre
  }

  def warmUp(): Unit = {
    baselineStorage = storageBytes()
    build()
    // the id watermark must reject an increment at or below it, loudly
    val first = gen.increments.head
    val stale = CleanWorkloads.frame(spark,
      first.map(p => p.copy(id = p.id - first.length)), cores)
    val rejected =
      try { Sink.run(CleanPipeline.incrementalFullClean(stale, index)); false }
      catch {
        case e: Exception =>
          Option(e.getMessage).exists(_.contains("monotone doc-id contract"))
      }
    stale.rdd.unpersist(blocking = true)
    if (!rejected) fail(-1, "a probe below the id watermark was not rejected")
    for (j <- 0 until increments) {
      collectNextProbe = j == 0
      val out = op(j, -1L)
      cleanup(j)
      if (check(-1, out)) refs(j) = out.result.asInstanceOf[IncResult].facts
    }
    persistedMb.clear(); planNodes.clear()
  }

  override def prepare(i: Int): Unit =
    if (math.floorMod(i, increments) == 0 && folded > 0) build()

  def op(i: Int, opSpan: Long): OpOutcome = {
    val j = math.floorMod(i, increments)
    val inc = incDfs(j)
    val b0 = persistentIds()
    val t0 = System.nanoTime()
    val facts = tracer.call("CleanPipeline.incrementalFullClean", opSpan) { _ =>
      val pieces = CleanPipeline.incrementalFullClean(inc, index)
      if (!collectNextProbe) Sink.run(pieces)
      else {
        collectNextProbe = false
        val (f, bad) = CleanWorkloads.collectChecked(pieces, gen.increments(j))
        bad.foreach(fail(i, _))
        f
      }
    }
    val t1 = System.nanoTime()
    val b1 = persistentIds()
    val next = tracer.call("CleanPipeline.updateFullCleanIndex", opSpan) { _ =>
      val nx = CleanPipeline.updateFullCleanIndex(index, inc)
      materialize(nx)
      index.unpersist()
      nx
    }
    val t2 = System.nanoTime()
    index = next
    indexOwned ++= persistentIds() -- b1
    probeOwned = b1 -- b0
    folded += 1
    OpOutcome(incBytes(j),
      Seq("probe" -> (t1 - t0) / 1e9, "fold" -> (t2 - t1) / 1e9),
      IncResult(j, facts, next.maxDocId))
  }

  override def cleanup(i: Int): Unit = {
    releaseIds(probeOwned)
    persistedMb += (storageBytes() - baselineStorage) / 1e6
    planNodes += frames(index).map(_.queryExecution.logical.collect { case n => n }.size).sum
  }

  def check(i: Int, out: OpOutcome): Boolean = {
    val r = out.result.asInstanceOf[IncResult]
    val pages = gen.increments(r.pos)
    CleanWorkloads.checkFacts(r.facts, incBytes(r.pos), pages.head.id,
        pages.last.id).map(fail(i, _))
      .getOrElse {
        if (r.watermark != pages.last.id)
          fail(i, s"folded watermark ${r.watermark} != increment max id ${pages.last.id}")
        else if (refs.get(r.pos).exists(_ != r.facts))
          fail(i, s"probe ${r.facts} != warm-up ${refs(r.pos)}")
        else true
      }
  }

  def metrics(outs: Seq[OpOutcome]): Map[String, Double] = {
    def phase(o: OpOutcome, k: String) = o.phases.find(_._1 == k).get._2
    val probes = outs.map(phase(_, "probe"))
    val folds = outs.map(phase(_, "fold"))
    val cycles = outs.grouped(increments).filter(_.length == increments).toSeq
    val cut = outs.map { o =>
      val r = o.result.asInstanceOf[IncResult]
      1.0 - r.facts.chars.toDouble / incBytes(r.pos)
    }
    Map(
      "probe_s.p50" -> Stats.median(probes),
      "probe_s.tail" -> Stats.tail(probes)._2,
      "fold_s.p50" -> Stats.median(folds),
      "index_build_s" -> Stats.median(buildS.toSeq),
      "index.fold_s.slope" -> Stats.mean(cycles.map(c => Stats.slope(c.map(phase(_, "fold"))))),
      "index.probe_cut_frac" -> Stats.mean(cut),
      "pipeline.kept_char_frac" -> (1.0 - Stats.mean(cut)),
      "index.persisted_mb" -> Stats.mean(persistedMb.toSeq),
      "index.plan_nodes" -> Stats.mean(planNodes.toSeq),
      "index.shared_share" -> Corpus.SharedShare)
  }

  def close(): Unit = { retire(); releaseIds(inputRdds) }
}
