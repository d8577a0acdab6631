package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.VectorIndex

/** Continuously-maintained ANN vector index over an EMBEDDING stream —
  * the vector twin of [[MaintainedBm25Index]], with the same StatsView
  * exactly-once discipline:
  *
  *  - vectors are partitioned by (batch, bucket) and each micro-batch
  *    writes ONLY its own `batch=<id>` partitions via dynamic partition
  *    overwrite — a re-run after a crash rewrites the identical
  *    partitions (the batch content is deterministic, and the
  *    hyperplane buckets are data-independent so every attempt agrees
  *    on the layout), making the write idempotent per batch id;
  *  - the index is SIDE-TABLE-FREE (a probe needs only the bucketed
  *    vectors — no vocabulary or stats merge), so the staged artifact
  *    is just a 1-row batch manifest (n_vecs) committed atomically with
  *    the [[EosProjection]] marker;
  *  - readers gate on the marker: [[probe]] scans
  *    `batch <= lastCommitted` restricted to the probed bucket
  *    partitions — orphan partitions from a crashed attempt stay
  *    invisible until their batch commits (the EventLog
  *    manifest-gated-reader pattern applied to the index).
  *
  * Probes equal a from-scratch [[VectorIndex.materialize]] + probe over
  * the union of all delivered vectors (StreamingRetrievalSpec pins it,
  * replay included), because old and new vectors agree on every bucket
  * id and cosine ranking is order-free. vec_ids must be unique across
  * the stream's life (the IncrementalDedup contract). */
final class MaintainedVectorIndex(path: Path, spark: SparkSession,
    bits: Int = 4, dim: Int = 64) {
  private val proj = new EosProjection(path.resolve("eos"))
  private def vecsDir = path.resolve("vectors")
  private def tombDir = path.resolve("tombstones")

  def lastCommitted: Long = proj.lastCommitted

  /** Delete vectors from the maintained index — the right-to-be-
    * forgotten path works on the STREAMING artifact too because this
    * index is side-table-free (the VectorIndex.delete argument): a
    * tombstone mask before ranking is EXACT, no committed per-batch
    * state needs rewriting, so the delete never competes with the
    * stream's EOS batch sequence. Idempotent; never-indexed ids are
    * no-ops. (Contrast [[MaintainedBm25Index]]: BM25 scores depend on
    * global df/avgdl, so its deletes cannot be out-of-band — they ride
    * the stream itself as `op = 'del'` rows, committing the side-table
    * decrement atomically with the batch marker.) */
  def delete(ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).as("vec_id")).distinct()
      .write.mode("append").parquet(tombDir.toString)

  private def maskedCorpus(df: DataFrame): DataFrame =
    if (!Files.exists(tombDir)) df
    else df.join(
      spark.read.parquet(tombDir.toString).select(col("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")

  // ---------------------------------------------------------------------
  // Layout maintenance

  private def compactMarker = path.resolve("_compact_staged")

  /** Fold every committed (batch, bucket) partition — tombstone-masked —
    * into a single `batch=0` base by [[CompactSwap.compact]]: a continuous
    * feed adds one batch partition per micro-batch forever, and nothing
    * else bounds the partition count a bucket-pruned probe lists.
    * `batch=0` stays under the `batch <= lastCommitted` gate; EOS state
    * untouched; applied tombstones clear with the fold (re-requested
    * deletes of folded-away ids are no-ops). Quiescent-stream contract. */
  def compact(): Unit = {
    val last = proj.lastCommitted
    val swaps = Seq(vecsDir -> path.resolve("vectors_compact"))
    CompactSwap.compact(compactMarker, swaps, Seq(tombDir),
        last < 0 || !Files.exists(vecsDir) || CompactSwap.folded(swaps, Seq(tombDir))) {
      maskedCorpus(spark.read.parquet(vecsDir.toString)
          .filter(col("batch") <= last)
          .select(col("vec_id"), col("v"), col("bucket")))
        .repartition(col("bucket")).withColumn("batch", lit(0L))
        .write.partitionBy("batch", "bucket").parquet(swaps.head._2.toString)
    }
  }

  /** foreachBatch body — attach via `writeStream.foreachBatch(idx.update _)`.
    * `batch` needs columns (vec_id, embedding). */
  def update(batch: DataFrame, batchId: Long): Unit =
    proj.foreachBatch { (df, id, stage) =>
      graft.GraftExtensions.register(spark)
      CompactSwap.requireQuiescent(compactMarker)
      df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bucket", VectorIndex.bucketCol(col("v"), bits, dim))
        .withColumn("batch", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "bucket")
        .parquet(vecsDir.toString)
      df.agg(count(lit(1)).as("n_vecs"))
        .write.parquet(stage.resolve("manifest").toString)
      ()
    }(batch, batchId)

  /** Top-k cosine neighbors per query vector against the committed index
    * state — bucket-partition-pruned like the static probe (multi-probe
    * via `nprobe`, the [[VectorIndex.probe]] ordering), batch-gated on
    * the marker. Empty before the first commit. `queries`:
    * (query_id, embedding). */
  def probe(queries: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    graft.GraftExtensions.register(spark)
    CompactSwap.requireQuiescent(compactMarker)
    val last = proj.lastCommitted
    if (last < 0 || !Files.exists(vecsDir))
      return queries.select(col("query_id"), lit(0L).as("rnk"),
        lit(0L).as("neighbor_id"), lit(0.0).as("cosine")).limit(0)
    val (q, probes, buckets) =
      VectorIndex.queryProbes(spark, queries, bits, dim, nprobe)
    val corpus = maskedCorpus(spark.read.parquet(vecsDir.toString)
        .filter(col("batch") <= last && col("bucket").isin(buckets: _*)))
      .select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("v").as("cv"), sqrt(expr("graft_dot(v, v)")).as("cnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(probes.join(q.select(col("query_id"), col("qv"), col("qnrm")), "query_id"))
      .join(corpus, Seq("bucket"))
      .withColumn("cosine",
        expr("graft_dot(qv, cv)") / nullif(col("qnrm") * col("cnrm"), lit(0.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cosine"))
  }
}
