package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ShingleIndex
import graft.queries.CrossHash.shingleHashes

/** Continuously-maintained corpus shingle index over a DOCUMENT stream —
  * the marker-less streaming fold of the dedup/novelty surface that the
  * single-commit [[ShingleIndex]] layout unblocks (the
  * [[MaintainedBm25Index]] discipline applied to dedup):
  *
  *  - pairs and per-doc counts are partitioned by `batch` and each
  *    micro-batch writes ONLY its own `batch=<id>` partitions via dynamic
  *    partition overwrite — a re-run after a crash rewrites the identical
  *    partitions (the batch content is deterministic), so both writes are
  *    idempotent per batch id; batch doc ids are disjoint (the
  *    IncrementalDedup contract), so per-batch count partitions union to
  *    the corpus counts with no merge step;
  *  - the cumulative tombstone set is staged and committed ATOMICALLY
  *    with the [[EosProjection]] batch marker;
  *  - readers gate on the marker: [[probe]] / [[noveltyProbe]] /
  *    [[containmentProbe]] read `batch <= lastCommitted` — orphan
  *    partitions from a crashed attempt are invisible until their batch
  *    commits.
  *
  * STREAM-CARRIED takedowns: a row with `op = 'del'` removes a
  * previously-committed doc from every probe exactly (the cumulative
  * tombstone mask — [[ShingleIndex.delete]]'s algebra riding the EOS
  * commit), so right-to-be-forgotten does not require pausing continuous
  * ingestion. Probes equal the batch [[ShingleIndex]] built on the union
  * of all delivered (minus deleted) documents — MaintainedShingleIndexSpec
  * pins streamed ≡ batch for probe and novelty, del ≡ batch delete, and
  * replays/re-requests as no-ops (the StreamingRetrievalSpec three-pin
  * shape).
  *
  * Per-trigger cost is batch-bounded: the adds shingle once (narrow
  * explode + distinct), the tombstone union is |deleted|-sized. At 100 TB
  * the standing mass is the append-only partitioned pairs dir; probes
  * carry the [[ShingleIndex.probeFrames]] shapes (candidates broadcast
  * against the counts side, never the reverse). */
final class MaintainedShingleIndex(path: Path, spark: SparkSession) {
  private val proj = new EosProjection(path.resolve("eos"))
  private def pairsDir = path.resolve("pairs")
  private def countsDir = path.resolve("counts")

  def lastCommitted: Long = proj.lastCommitted

  /** CUMULATIVE tombstone set as of committed batch `id` — rides the
    * per-batch snapshot dir, so a delete commits atomically with the
    * batch marker. Batches from before a first delete have no tombstone
    * file → empty. */
  private def tombstones(id: Long): Option[DataFrame] = {
    val p = path.resolve(s"eos/batch-$id/tombstones")
    if (id < 0 || !Files.exists(p)) None
    else Some(spark.read.parquet(p.toString))
  }

  /** A partitioned dir holds readable data only once some batch actually
    * wrote rows (a pure-del first batch writes no parquet files — reading
    * the bare dir would fail schema inference). */
  private def hasData(dir: Path): Boolean =
    Files.exists(dir) && {
      val s = Files.list(dir)
      try s.anyMatch(p => p.getFileName.toString.startsWith("batch="))
      finally s.close()
    }

  private def emptyPairs =
    spark.range(0).select(col("id").as("doc_id"), col("id").as("h"))
  private def emptyCounts =
    spark.range(0).select(col("id").as("doc_id"), col("id").as("n"))

  /** The committed, tombstone-masked corpus pair frame (doc_id, h). */
  private def committedPairs: DataFrame = {
    CompactSwap.requireQuiescent(compactMarker)
    val last = proj.lastCommitted
    val base = if (last < 0 || !hasData(pairsDir)) emptyPairs
      else spark.read.parquet(pairsDir.toString)
        .filter(col("batch") <= last).drop("batch")
    mask(base, last)
  }

  private def committedCounts: DataFrame = {
    CompactSwap.requireQuiescent(compactMarker)
    val last = proj.lastCommitted
    val base = if (last < 0 || !hasData(countsDir)) emptyCounts
      else spark.read.parquet(countsDir.toString)
        .filter(col("batch") <= last).drop("batch")
    mask(base, last)
  }

  private def mask(df: DataFrame, last: Long): DataFrame = tombstones(last) match {
    case None => df
    case Some(t) => df.join(t.select(col("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** foreachBatch body — attach via `writeStream.foreachBatch(idx.update _)`.
    * `batch` needs columns (doc_id, text) and optionally `op`
    * ('add' | 'del'). A doc_id may not appear as add and del in the SAME
    * batch (fail-fast — intra-batch ordering is undefined); already-
    * deleted and never-indexed del ids are no-ops. Replays skip whole
    * (G4). */
  def update(batch: DataFrame, batchId: Long): Unit =
    proj.foreachBatch { (df, id, stage) =>
      graft.GraftExtensions.register(spark)
      CompactSwap.requireQuiescent(compactMarker)
      val hasOp = df.columns.contains("op")
      val adds = if (hasOp) df.filter(col("op") === "add") else df
      val delsReq = if (hasOp) df.filter(col("op") === "del")
          .select(col("doc_id")).distinct()
        else df.select(col("doc_id")).limit(0)
      if (hasOp) {
        require(adds.join(delsReq, Seq("doc_id"), "left_semi").isEmpty,
          "a doc_id appears as both add and del in one batch — " +
            "intra-batch ordering is undefined; split the request across batches")
        val badOp = df.filter(!col("op").isin("add", "del")).limit(1).collect()
        require(badOp.isEmpty, s"unknown op '${badOp.headOption.map(_.getAs[String]("op"))
          .getOrElse("")}' — ops are 'add' | 'del'")
      }
      val prev = proj.lastCommitted
      val prevTombs = tombstones(prev)
      // fresh guard: already-tombstoned ids are no-ops (idempotent
      // re-request; the REPLAY case never reaches here — G4 skips it)
      val dels = prevTombs match {
        case None => delsReq
        case Some(t) => delsReq.join(t, Seq("doc_id"), "left_anti")
      }
      val psh = adds
        .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
        .distinct().cache()
      psh.withColumn("batch", lit(id))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(pairsDir.toString)
      psh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .withColumn("batch", lit(id))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(countsDir.toString)
      // cumulative tombstones: prev ∪ this batch's fresh dels
      (prevTombs match {
        case None => dels
        case Some(t) => t.select(col("doc_id")).unionByName(dels).distinct()
      }).write.parquet(stage.resolve("tombstones").toString)
      psh.unpersist()
      ()
    }(batch, batchId)

  /** Near-dup pairs of a NEW probe batch vs the committed corpus (plus
    * within the probe batch) — [[ShingleIndex.probe]] over the streamed
    * state. Within-probe-only pairs before the first commit. */
  def probe(batch: DataFrame, threshold: Double): DataFrame = {
    graft.GraftExtensions.register(spark)
    ShingleIndex.probeFrames(committedPairs, committedCounts, batch, threshold)
  }

  /** Per-doc novelty of a probe batch vs the committed corpus —
    * [[ShingleIndex.noveltyProbe]] over the streamed state. */
  def noveltyProbe(batch: DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    ShingleIndex.noveltyFrames(committedPairs, batch)
  }

  /** Containment pairs touching a probe batch vs the committed corpus —
    * [[ShingleIndex.containmentProbe]] over the streamed state. */
  def containmentProbe(batch: DataFrame, threshold: Double): DataFrame = {
    graft.GraftExtensions.register(spark)
    ShingleIndex.containmentFrames(committedPairs, committedCounts, batch, threshold)
  }

  /** Arrival-order keep-first span scrub of a probe batch vs the
    * committed corpus — [[ShingleIndex.spanKeepFirstProbe]] over the
    * streamed state: the continuously-ingested corpus holds its
    * passages, a probe doc keeps only what nobody committed (or a lower
    * probe doc_id) already carries. Stream-carried takedowns release a
    * forgotten doc's passages like every other probe here. */
  def spanKeepFirstProbe(batch: DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    ShingleIndex.spanKeepFirstFrames(spark, committedPairs, batch)
  }

  // ---------------------------------------------------------------------
  // Layout maintenance

  private def compactMarker = path.resolve("_compact_staged")

  /** Fold every committed batch partition (tombstone-masked) into a
    * single `batch=0` base, so a continuous feed's partition count stays
    * bounded. `batch=0` is ≤ every committed marker, so the base stays
    * visible to the gated readers; the EOS state is untouched, so the next
    * micro-batch id continues from the checkpoint and replays still skip
    * whole (G4). Applied tombstones drop with the fold (a re-requested del
    * of a folded-away id is a no-op). Probes are identical before and
    * after. Run between triggers; the swap is [[CompactSwap.compact]], so
    * after a crash probes and updates fail loud until the next compact(). */
  def compact(): Unit = {
    val last = proj.lastCommitted
    val swaps = Seq(pairsDir -> path.resolve("pairs_compact"),
      countsDir -> path.resolve("counts_compact"))
    val drops = Seq(path.resolve(s"eos/batch-$last/tombstones"))
    CompactSwap.compact(compactMarker, swaps, drops,
        last < 0 || CompactSwap.folded(swaps, drops)) {
      val Seq((_, sp), (_, sc)) = swaps
      committedPairs.repartition(32, col("h")).withColumn("batch", lit(0L))
        .write.partitionBy("batch").parquet(sp.toString)
      committedCounts.withColumn("batch", lit(0L))
        .write.partitionBy("batch").parquet(sc.toString)
    }
  }
}
