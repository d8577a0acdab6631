package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.TopicOffsets

/** Incremental read-committed consumer over a [[KafkaShapedLog]] — the
  * subscribe path for replicated topics (S5 semantics on the sink side).
  *
  * Spark's built-in file streaming source tails a directory and would see
  * staged-but-uncommitted files; this consumer tails the MANIFEST instead,
  * so only transactionally committed records are ever delivered
  * (`isolation.level=read_committed`,
  * ReactorKafkaEventStoreAutoConfiguration.java:87-90 in /root/reference).
  *
  * Offset state lives in a [[TopicOffsets]] store (the `topic_offsets`
  * table analog, bootstrap −1 / resume `offset + 1`,
  * ReactorKafkaEventStore.java:95-98, 278):
  *  - [[poll]] hands the batch DataFrame to the caller and advances
  *    offsets only after the callback returns — at-least-once by default;
  *  - exactly-once composes with graft.streaming.EosProjection by doing
  *    the offset write inside the projection's staged commit (G4).
  *
  * Each poll reads the manifest's committed view and filters
  * `offset > last` per partition — a resumed consumer DELIVERS only the
  * tail. The filter is row-level over the committed files (appendTxn
  * hashes topics across shared task files, so per-file topic/offset
  * pruning would need per-file stats in the manifest); poll cost therefore
  * grows with committed history, and long-lived logs should compact.
  */
final class KafkaShapedConsumer(
    log: KafkaShapedLog,
    topic: String,
    offsets: TopicOffsets) {

  /** Committed-but-unconsumed records, per the offset store. */
  def pending(): DataFrame = {
    val committed = log.read(topic)
    val parts = log.manifest().offsets.keys.collect {
      case (t, p) if t == topic => p
    }.toSeq
    parts.foldLeft(committed) { (df, p) =>
      df.filter(!(col("partition") === p) ||
        col("offset") > offsets.offsetFor(topic, p))
    }
  }

  /** Deliver pending records; offsets advance only after `handle` returns.
    * @return records delivered */
  def poll(handle: DataFrame => Unit): Long = {
    // persist across the three uses (maxima/count + the handler's own
    // evaluation) — otherwise every poll re-reads the manifest parquet 3×
    val batch = pending().persist()
    try {
      val stats = batch.groupBy(col("partition"))
        .agg(max(col("offset")).as("mx"), count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      if (stats.isEmpty) return 0L
      handle(batch)
      stats.foreach { case (p, mx, _) => offsets.update(topic, p, mx) }
      stats.map(_._3).sum
    } finally batch.unpersist()
  }
}
