package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.MergeableStats

/** Continuously-maintained materialized stats view over an event stream —
  * the streaming form of `ev_stats_incr`: each micro-batch aggregates its
  * delta ([[MergeableStats.statsOf]]) and merges it into the persisted
  * state instead of rescanning history.
  *
  * Exactly-once rides [[EosProjection]]: the new state parquet is staged
  * and committed atomically WITH the batch marker, so a crash mid-refresh
  * leaves the previous state visible and a replayed batch is skipped —
  * the view never double-counts a delta (the KMV minima would survive a
  * double-merge unharmed, being idempotent, but counts and sums would
  * not; the commit protocol protects all columns uniformly).
  *
  * State size is |event types| rows × (4 scalars + k longs) — driver-tiny
  * forever, independent of stream length. StreamingSpec pins
  * view == full recompute over every delivered row, across batch splits
  * and a crash-replay.
  */
final class StatsView(val stateDir: Path, spark: SparkSession) {
  private val proj = new EosProjection(stateDir)

  /** Current state rows, or None before the first commit. */
  def state(): Option[DataFrame] = {
    val last = proj.lastCommitted
    if (last < 0) None
    else Some(spark.read.parquet(
      stateDir.resolve(s"batch-$last").resolve("state").toString))
  }

  /** The published view (scalar columns + KMV estimator). */
  def view(): Option[DataFrame] = state().map(MergeableStats.publish)

  /** foreachBatch body: merge the batch's delta aggregate into the state.
    * Attach via `writeStream.foreachBatch(statsView.update _)`. */
  def update(batch: DataFrame, batchId: Long): Unit =
    proj.foreachBatch { (df, _, stage) =>
      val delta = MergeableStats.statsOf(df)
      val merged = state() match {
        case Some(st) => MergeableStats.merge(st, delta)
        case None => delta
      }
      merged.write.parquet(stage.resolve("state").toString)
    }(batch, batchId)

  /** Drop committed state dirs older than the latest (bounded footprint —
    * call opportunistically; never required for correctness). */
  def vacuum(): Unit = {
    val last = proj.lastCommitted
    if (last >= 0 && Files.exists(stateDir)) {
      val ds = Files.list(stateDir)
      try {
        ds.filter(p => p.getFileName.toString.startsWith("batch-") &&
            p.getFileName.toString.stripPrefix("batch-").toLong < last)
          .forEach(graft.store.FileTree.deleteRecursively(_))
      } finally ds.close()
    }
  }
}
