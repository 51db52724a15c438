package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Stage-breakdown probe for the multi-order removal tail (round 13): at
  * ×1000 `p_dup_span_removal` reads d3 ≈ 1.2 while its interval stage
  * (`p_dup_spans_multi`, same window plan) reads 0.95 — the residual is
  * in the tail (per-doc island fold → checkpoint → emission join). The
  * leading suspect is the emission join's PHYSICAL shape: the cut table
  * grows linearly with the corpus, and once it outgrows AQE's broadcast
  * threshold the `docs ⋈ cuts` left join falls back to sort-merge —
  * sorting the RE-TOKENIZED corpus (5 M heavy token-array rows at ×1000)
  * to join a table that only needs hashing. Legs timed in one JVM:
  *
  *   1. `intervals`  — the windowed interval stage alone (count+xor sink)
  *   2. `cuts`       — + per-doc island fold, to the checkpoint
  *   3. `emit_asis`  — full removeDupSpans (emission join as shipped)
  *   4. `emit_hash`  — emission re-run with a SHUFFLE_HASH hint on the
  *                     cut side (no sort of the heavy side), same cuts
  *
  * Piece-set equality between the two emission legs is asserted via
  * (count, xor) fingerprints. Writes one JSON line.
  *
  * Usage: runMain graft.tools.SpanTailProbe <sfDir> [outPath]
  */
object SpanTailProbe {

  private def cpuStat(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.sum, if (f.length > 7) f(7) else 0L))
      } finally src.close()
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args.lift(1).getOrElse("SPANTAIL_PROBE.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .appName("graft-spantail-probe")
    graft.util.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stat0 = cpuStat()

    val ns = Seq(8, 16, 32)
    val minLen = 20
    val D = graft.pipeline.Dedup
    val docs = graft.util.Tables.spread(
      graft.util.Tables.t(spark, sfDir, "documents"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val base = docs.select(col("doc_id"),
      graft.pipeline.TextPipeline.tokens(col("text")).as("toks"))

    // leg 1: interval stage alone
    val (_, tIv) = timed {
      D.removalCutIntervals(base, ns, md5 = false)
        .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("st"), col("en"))))
        .collect()
    }

    // leg 2: + per-doc island fold, checkpointed (what the public entry
    // does). Any substrate the frames persisted is released and caches
    // dropped before the later legs — block-manager residency from this
    // leg would otherwise skew the emission/full-tail timings the probe
    // exists to isolate (the isolation discipline of the CLEANPIPE_AB.json
    // measurement).
    val (cuts, tCuts) = timed {
      val f = D.removeDupSpansFrames(docs, ns, minLen, "doc_id", "text")
      try f.cuts.localCheckpoint()
      // blocking, so leg 3 starts with the substrate's blocks actually
      // gone (a lazy unpersist could still be resident mid-leg); the
      // checkpointed cuts themselves must stay persisted — they ARE the
      // later legs' input
      finally f.base.unpersist(blocking = true)
    }
    spark.catalog.clearCache()
    val nCutDocs = cuts.count()
    val cutBytes = cuts.queryExecution.optimizedPlan.stats.sizeInBytes

    def fp(df: DataFrame) =
      df.agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("doc_id"), col("piece_idx"),
          col("st"), col("en"))), lit(0L)).as("x")).collect().toSeq

    // leg 3: the shipped emission join over the checkpointed cuts
    val emptyIv = array().cast("array<struct<st:bigint,en:bigint>>")
    def emit(cutsSide: DataFrame): DataFrame =
      base
        .join(cutsSide, Seq("doc_id"), "left")
        .withColumn("cut", coalesce(col("cut"), emptyIv))
        .select(col("doc_id"), col("toks"),
          posexplode(D.complementPieces(col("cut"),
            size(col("toks")).cast("long"))))
        .select(col("doc_id"), col("pos").cast("long").as("piece_idx"),
          col("col.st").as("st"), col("col.en").as("en"))

    val (fpAsis, tAsis) = timed(fp(emit(cuts)))
    val planAsis = emit(cuts).queryExecution.executedPlan.toString()
    val joinAsis =
      if (planAsis.contains("SortMergeJoin")) "sort_merge"
      else if (planAsis.contains("BroadcastHashJoin")) "broadcast_hash"
      else if (planAsis.contains("ShuffledHashJoin")) "shuffled_hash"
      else "other"

    // leg 4: same join with the cut side hinted SHUFFLE_HASH
    val (fpHash, tHash) = timed(fp(emit(cuts.hint("shuffle_hash"))))
    require(fpAsis == fpHash, s"emission shapes disagree: $fpAsis vs $fpHash")

    // legs 5/6: the BENCH QUERY's full tail — re-assembled piece text +
    // md5, affected docs only — without and with the oracle-shaped global
    // orderBy (output-stability cosmetics, not operator semantics): if
    // the sort leg dominates, the operator's d3 is innocent and the
    // oracle harness is what scales badly. Both run twice, min kept (the
    // single-shot legs above carry first-run JIT).
    def fullTail(sorted: Boolean): Long = {
      val out = D.removeDupSpans(docs, ns, minLen)
        .filter(col("cut_tokens") > 0)
        .select(col("doc_id"), col("piece_idx"), col("st"), col("en"),
          col("n_tokens"), md5(col("text")).as("text_hash"))
      val o = if (sorted) out.orderBy("doc_id", "piece_idx") else out
      o.write.format("noop").mode("overwrite").save()
      0L
    }
    def minOf2(f: => Long): Double =
      Seq.fill(2)(timed(f)._2).min
    val tFullNoSort = minOf2(fullTail(sorted = false))
    val tFullSorted = minOf2(fullTail(sorted = true))

    val steal = (for ((t0, s0) <- stat0; (t1, s1) <- cpuStat() if t1 > t0)
      yield math.round(10000.0 * (s1 - s0) / (t1 - t0)) / 100.0)
    val json =
      s"""{"metric":"span_tail_probe","sf":"$sfDir","shuffle_partitions":$shufflePartitions,""" +
        s""""intervals_sec":$tIv,"cuts_sec":$tCuts,"n_cut_docs":$nCutDocs,""" +
        s""""cuts_size_bytes":$cutBytes,"emit_asis_sec":$tAsis,""" +
        s""""emit_asis_join":"$joinAsis","emit_hash_sec":$tHash,""" +
        s""""full_nosort_sec":$tFullNoSort,"full_sorted_sec":$tFullSorted,""" +
        s""""steal_pct":${steal.map(_.toString).getOrElse("null")}}"""
    println(json)
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
  }
}
