package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The output stage of the curation pipeline: materialize `doc_pack`'s
  * concat-and-chunk assignment as one directory PER TRAINING SHARD
  * (`shard=K/` hive partitions), so a trainer's data loader reads its
  * shard with a single partition-pruned scan and no job-side filtering.
  *
  * Layout contract (pinned by CorpusSpec):
  *  - shard ids are contiguous 0..N−1 (GlobalCumsum assigns them from the
  *    corpus-wide token prefix sum, so no shard can be skipped);
  *  - every input doc lands in exactly one shard, at the (shard,
  *    shard_offset) the registered `doc_pack` query computes;
  *  - reading one `shard=K` directory yields exactly that shard's docs —
  *    the pruning is the on-disk partitioning, not a filter.
  *
  * At 100 TB this is the same single pass doc_pack already costs (the
  * bucketed prefix-sum shuffle) plus a partitioned write; shard count =
  * total tokens / budget, each shard file group written by the tasks that
  * own its rows.
  */
object PackedExport {

  /** Concat-and-chunk sequence packing, the one spelling every pack step
    * uses: `docs` (with `orderKey` and `n_tokens`) stream in `orderKey`
    * order into `budget`-token training sequences, the stream starting
    * `base` tokens in. Returns `docs`' columns plus (shard, shard_offset),
    * the doc's sequence and its token offset inside it. `docs` is cached
    * (GlobalCumsum.runningBefore); the caller unpersists it once the
    * result has been written. */
  def pack(docs: DataFrame, orderKey: String = "doc_id", base: Long = 0L,
      budget: Long = graft.queries.CorpusQueries.PackBudget): DataFrame = {
    GlobalCumsum.runningBefore(docs, orderKey, "n_tokens", "cb")
      .select(docs.columns.map(col) :+
        expr(s"CAST((cb + $base) DIV $budget AS BIGINT)").as("shard") :+
        ((col("cb") + base) % budget).as("shard_offset"): _*)
  }

  /** Pack `docs` (doc_id, n_tokens) under `budget` tokens per training
    * sequence and write `outDir/shard=K/` partitions. Returns the shard
    * count.
    *
    * REQUIRES every doc's n_tokens ≤ budget: a single oversized doc would
    * jump the prefix sum across whole budgets, skipping shard ids — some
    * `shard=K` dirs would not exist while the returned count says they
    * should, and a trainer reading shard K would silently get nothing.
    * Oversized docs must go through doc_chunk first; this fails fast
    * instead of softening the contiguity contract (the contract is what
    * lets a loader enumerate shards 0..N−1 without listing). */
  def writeShards(docs: DataFrame, outDir: String, budget: Long): Long = {
    val oversized = docs.filter(col("n_tokens") > budget)
      .select(col("doc_id"), col("n_tokens")).limit(1).collect()
    require(oversized.isEmpty,
      s"doc ${oversized.headOption.map(_.get(0)).orNull} has " +
        s"${oversized.headOption.map(_.get(1)).orNull} tokens > budget $budget — " +
        "chunk oversized docs (doc_chunk) before packing")
    // an empty corpus writes no shard dirs and the read-back below can't
    // infer a schema from nothing — short-circuit to zero shards
    if (docs.isEmpty) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      return 0L
    }
    val in = docs.select(col("doc_id"), col("n_tokens"))
    try pack(in, budget = budget).write.partitionBy("shard").mode("overwrite").parquet(outDir)
    finally in.unpersist() // pack caches its input
    val spark = docs.sparkSession
    // partition-column inference types `shard=K` dirs as int — normalize
    spark.read.parquet(outDir)
      .agg(max(col("shard").cast("long"))).collect()(0).getLong(0) + 1
  }

  /** The persisted PACK BASE — the token offset the NEXT increment's
    * packing continues from. Kept as its own 1-row artifact (not derived
    * from the curated manifest) so takedown + repack compose with the
    * daily path: after a repack renumbers shards from the SURVIVING token
    * stream, the raw manifest sum still includes removed docs' tokens and
    * would start the next batch past the repacked end, silently skipping
    * shard ids — the exact gapless 0..N-1 enumeration the loader
    * fail-fasts to protect. Writers: CurationJob (day 0 total),
    * DailyIncrement (base + batch tokens), Takedown.repack (surviving
    * total). */
  def writeBase(spark: org.apache.spark.sql.SparkSession, dir: String,
      base: Long): Unit = {
    import spark.implicits._
    Seq(base).toDF("pack_base").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** None when the artifact predates the pack-base discipline — callers
    * fall back to the raw manifest sum (correct until the first repack). */
  def readBase(spark: org.apache.spark.sql.SparkSession, dir: String): Option[Long] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) None
    else Some(spark.read.parquet(dir).collect()(0).getLong(0))
}
