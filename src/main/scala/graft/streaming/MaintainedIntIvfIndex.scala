package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IntIvfIndex, IntegerKMeans, IvfAdc}

/** Continuously-maintained IVFADC index over an embedding stream — the
  * integer twin of [[MaintainedVectorIndex]], with a stronger guarantee:
  * because BOTH quantizer artifacts (coarse centroids AND residual
  * codebooks) are trained once at [[bootstrap]] and then FROZEN, a
  * streamed ingestion equals a batch [[IntIvfIndex.materializeAdc]] over
  * the union EXACTLY — not just per-bucket-function like the float LSH
  * index, but code-for-code (StreamingRetrievalSpec pins it, replay
  * included).
  *
  * Exactly-once is the [[MaintainedVectorIndex]] StatsView discipline:
  * vectors partition by (batch, cluster), each micro-batch writes only
  * its own `batch=<id>` partitions via dynamic partition overwrite
  * (assignment and codes are pure functions of the frozen quantizers, so
  * every attempt writes identical bytes), the staged artifact is a 1-row
  * manifest committed atomically with the [[EosProjection]] marker, and
  * probes gate on `batch <= lastCommitted` — orphan partitions from a
  * crashed attempt stay invisible until their batch commits.
  *
  * Deletes are out-of-band tombstones (side-table-free index: the frozen
  * quantizers depend on no per-batch state, so a mask before ranking is
  * exact and never competes with the stream's batch sequence); compact
  * erases tombstoned rows physically through a staged swap. vec_ids
  * must be unique across the stream's life (the IncrementalDedup
  * contract). */
final class MaintainedIntIvfIndex(path: Path, spark: SparkSession) {
  private val proj = new EosProjection(path.resolve("eos"))
  private def vecsDir = path.resolve("vectors")
  private def tombDir = path.resolve("tombstones")
  private def artDir = path.resolve("quantizers").toString

  def lastCommitted: Long = proj.lastCommitted

  /** Train and freeze the quantizers from a bootstrap corpus — runs ONCE
    * before the stream starts (the IntIvfIndex.materializeAdc training
    * doctrine: coarse k-means over the corpus, residual codebooks over
    * the bounded `vec_id < trainN` id-prefix sample). The stream then
    * only ever encodes against these artifacts; distribution drift is
    * remedied by a scheduled re-bootstrap + reindex, never a silent
    * refit. `pts` is quantized (vec_id, qv). Returns the centroids. */
  def bootstrap(pts: DataFrame, k: Int, iters: Int, mMax: Int, kc: Int,
      pqIters: Int, trainN: Long): Seq[(Long, Array[Long])] = {
    import spark.implicits._
    val cs = IntegerKMeans.fit(pts, k, iters)
    require(cs.nonEmpty, "bootstrap corpus has no seed vectors (vec_id < k)")
    val dTot = cs.head._2.length
    val dSub = math.max(1, dTot / mMax)
    val mCnt = math.min(mMax, dTot / dSub)
    val sample = pts.filter(col("vec_id") < trainN)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val cb = IntegerKMeans.fitSubLocal(
      IvfAdc.residualSample(sample, cs), mCnt, dSub, kc, pqIters)
    cs.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$artDir/_centroids")
    IntIvfIndex.writePq(spark, artDir, cb, dSub, kc)
    cs
  }

  /** foreachBatch body — attach via `writeStream.foreachBatch(idx.update _)`.
    * `batch` needs columns (vec_id, embedding). */
  def update(batch: DataFrame, batchId: Long): Unit =
    proj.foreachBatch { (df, id, stage) =>
      graft.GraftExtensions.register(spark)
      CompactSwap.requireQuiescent(compactMarker)
      val cents = IntIvfIndex.loadCentroids(spark, artDir)
      val (cb, dSub, _) = IntIvfIndex.loadPq(spark, artDir)
      val pts = IntegerKMeans.quantize(df.select(col("vec_id"), col("embedding")))
      IntegerKMeans.assign(pts, cents, keep = Seq("qv"))
        .select(col("vec_id"), col("qv"),
          IntegerKMeans.subCodes(cb, dSub, IvfAdc.residualCol(cents)).as("codes"),
          col("cluster"))
        .withColumn("batch", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "cluster")
        .parquet(vecsDir.toString)
      df.agg(count(lit(1)).as("n_vecs"))
        .write.parquet(stage.resolve("manifest").toString)
      ()
    }(batch, batchId)

  /** Delete vectors from the maintained index — exact out-of-band mask
    * (see class doc). Idempotent; never-indexed ids are no-ops. */
  def delete(ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).cast("long").as("vec_id")).distinct()
      .write.mode("append").parquet(tombDir.toString)

  private def maskedCorpus(df: DataFrame): DataFrame =
    if (!Files.exists(tombDir)) df
    else df.join(
      spark.read.parquet(tombDir.toString).select(col("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")

  // ---------------------------------------------------------------------
  // Layout maintenance

  private def compactMarker = path.resolve("_compact_staged")

  /** Fold every committed (batch, cluster) partition — tombstone-masked —
    * into a single `batch=0` base by [[CompactSwap.compact]]; gate/EOS and
    * the frozen quantizers (outside `vectors/`) untouched, probes
    * identical, applied tombstones clear. */
  def compact(): Unit = {
    val last = proj.lastCommitted
    val swaps = Seq(vecsDir -> path.resolve("vectors_compact"))
    CompactSwap.compact(compactMarker, swaps, Seq(tombDir),
        last < 0 || !Files.exists(vecsDir) || CompactSwap.folded(swaps, Seq(tombDir))) {
      maskedCorpus(spark.read.parquet(vecsDir.toString)
          .filter(col("batch") <= last)
          .select(col("vec_id"), col("qv"), col("codes"), col("cluster")))
        .repartition(col("cluster")).withColumn("batch", lit(0L))
        .write.partitionBy("batch", "cluster").parquet(swaps.head._2.toString)
    }
  }

  /** IVFADC top-k per query against the committed index state — the
    * [[IntIvfIndex.probeAdc]] algebra over the batch-gated, cell-pruned,
    * tombstone-masked reader. Empty before the first commit. `queries`:
    * (query_id, embedding). */
  def probeAdc(queries: DataFrame, nprobe: Int, k: Int, shortlist: Int,
      allowed: Option[DataFrame] = None): DataFrame = {
    graft.GraftExtensions.register(spark)
    CompactSwap.requireQuiescent(compactMarker)
    val last = proj.lastCommitted
    if (last < 0 || !Files.exists(vecsDir))
      return queries.select(col("query_id").cast("long").as("query_id"),
        lit(0L).as("neighbor_id"), lit(0L).as("d2"), lit(0L).as("rnk")).limit(0)
    val cents = IntIvfIndex.loadCentroids(spark, artDir)
    val (cb, dSub, kc) = IntIvfIndex.loadPq(spark, artDir)
    val qpts = IntegerKMeans.quantize(
      queries.select(col("query_id").as("vec_id"), col("embedding")))
    val allow = allowed.map(a =>
      a.select(col(a.columns.head).cast("long").as("vec_id")).distinct())
    IntIvfIndex.probeAdcCore(spark, cents, cb, dSub, kc, qpts,
      nprobe, k, shortlist,
      cells => {
        val scan = maskedCorpus(spark.read.parquet(vecsDir.toString)
          .filter(col("batch") <= last && col("cluster").isin(cells: _*)))
        allow.fold(scan)(a => scan.join(a, Seq("vec_id"), "left_semi"))
      })
  }
}
