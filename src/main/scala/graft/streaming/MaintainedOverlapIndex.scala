package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.OverlapIndex

/** Continuously-maintained POSITIONED shingle index over a document
  * stream — the streaming fold of the overlap-run decontamination surface
  * ([[MaintainedShingleIndex]]'s discipline applied to the
  * [[OverlapIndex]] relation): without it, continuous ingestion cannot
  * answer "which standing docs share ≥N-token verbatim runs with a newly
  * adopted benchmark" short of a batch rebuild.
  *
  *  - each micro-batch writes its adds' (doc_id, q, h) trigram
  *    occurrences into its own `batch=<id>` partition via dynamic
  *    partition overwrite (a crashed re-run rewrites the identical
  *    partition — idempotent per batch id);
  *  - the cumulative tombstone set is staged and committed ATOMICALLY
  *    with the [[EosProjection]] batch marker, so stream-carried
  *    `op='del'` takedowns reach the overlap surface without pausing
  *    ingestion;
  *  - [[runsProbe]] gates on the marker (`batch <= lastCommitted`) —
  *    orphan partitions from a crashed attempt are invisible until their
  *    batch commits.
  *
  * Probes equal the batch [[OverlapIndex]] materialized over the union of
  * all delivered (minus deleted) documents — MaintainedOverlapIndexSpec
  * pins streamed ≡ batch, replays/re-requests as no-ops, and stream-del ≡
  * batch delete (the MaintainedShingleIndexSpec three-pin shape).
  *
  * Per-trigger cost is batch-bounded (one narrow posexplode of the adds;
  * |deleted|-sized tombstone union). At 100 TB the standing mass is the
  * append-only partitioned occurrence dir; the probe carries
  * [[OverlapIndex.runsFrames]]'s shapes — cost O(matching hash pairs),
  * islands windowed per (t_doc, e_doc, diag), never corpus-keyed. */
final class MaintainedOverlapIndex(path: Path, spark: SparkSession) {
  private val proj = new EosProjection(path.resolve("eos"))
  private def occDir = path.resolve("occ")

  def lastCommitted: Long = proj.lastCommitted

  /** CUMULATIVE tombstone set as of committed batch `id` — rides the
    * per-batch snapshot dir, so a delete commits atomically with the
    * batch marker. */
  private def tombstones(id: Long): Option[DataFrame] = {
    val p = path.resolve(s"eos/batch-$id/tombstones")
    if (id < 0 || !Files.exists(p)) None
    else Some(spark.read.parquet(p.toString))
  }

  /** A partitioned dir holds readable data only once some batch actually
    * wrote rows (a pure-del first batch writes no parquet files). */
  private def hasData(dir: Path): Boolean =
    Files.exists(dir) && {
      val s = Files.list(dir)
      try s.anyMatch(p => p.getFileName.toString.startsWith("batch="))
      finally s.close()
    }

  private def emptyOcc =
    spark.range(0).select(col("id").as("doc_id"),
      col("id").cast("int").as("q"), col("id").as("h"))

  /** The committed, tombstone-masked occurrence frame (doc_id, q, h). */
  private def committedOcc: DataFrame = {
    CompactSwap.requireQuiescent(compactMarker)
    val last = proj.lastCommitted
    val base = if (last < 0 || !hasData(occDir)) emptyOcc
      else spark.read.parquet(occDir.toString)
        .filter(col("batch") <= last).drop("batch")
    tombstones(last) match {
      case None => base
      case Some(t) => base.join(t.select(col("doc_id")), Seq("doc_id"), "left_anti")
    }
  }

  /** foreachBatch body — attach via `writeStream.foreachBatch(idx.update _)`.
    * `batch` needs (doc_id, text) and optionally `op` ('add' | 'del'); a
    * doc_id may not appear as both in one batch (fail-fast), replays skip
    * whole (G4), already-deleted / never-indexed del ids are no-ops. */
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
      val dels = prevTombs match {
        case None => delsReq
        case Some(t) => delsReq.join(t, Seq("doc_id"), "left_anti")
      }
      OverlapIndex.positioned(adds).withColumn("batch", lit(id))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(occDir.toString)
      (prevTombs match {
        case None => dels
        case Some(t) => t.select(col("doc_id")).unionByName(dels).distinct()
      }).write.parquet(stage.resolve("tombstones").toString)
      ()
    }(batch, batchId)

  /** Longest-contiguous-overlap runs of `evalDocs` (doc_id, text) against
    * the streamed standing corpus — [[OverlapIndex.runsProbe]] over the
    * committed state. Empty before the first commit. */
  def runsProbe(evalDocs: DataFrame, minRun: Long): DataFrame = {
    graft.GraftExtensions.register(spark)
    OverlapIndex.runsFrames(committedOcc, OverlapIndex.positioned(evalDocs), minRun)
  }

  /** Scrub `trainDocs` against the STREAMED standing occurrences as the
    * benchmark side — [[OverlapIndex.scrubProbe]]'s mirrored-roles form
    * over a continuously-ingested eval benchmark (new benchmark docs
    * stream in, takedowns stream out, and training batches scrub against
    * the committed state). Unchanged text before the first commit. */
  def scrubProbe(trainDocs: DataFrame, minRun: Long): DataFrame = {
    graft.GraftExtensions.register(spark)
    OverlapIndex.scrubFrames(trainDocs, OverlapIndex.positioned(trainDocs),
      committedOcc, minRun)
  }

  // ---------------------------------------------------------------------
  // Layout maintenance

  private def compactMarker = path.resolve("_compact_staged")

  /** Fold every committed batch partition (tombstone-masked) into a
    * single `batch=0` base by [[CompactSwap.compact]]; EOS state
    * untouched, probes identical before and after. */
  def compact(): Unit = {
    val last = proj.lastCommitted
    val swaps = Seq(occDir -> path.resolve("occ_compact"))
    val drops = Seq(path.resolve(s"eos/batch-$last/tombstones"))
    CompactSwap.compact(compactMarker, swaps, drops,
        last < 0 || CompactSwap.folded(swaps, drops)) {
      committedOcc.repartition(32, col("h")).withColumn("batch", lit(0L))
        .write.partitionBy("batch").parquet(swaps.head._2.toString)
    }
  }
}
