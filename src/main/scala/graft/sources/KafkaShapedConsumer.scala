package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.expressions.LongParam
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
  * Poll cost: each poll reads the manifest once and compares, per
  * partition, the last consumed offset with the manifest's next offset —
  * driver-side metadata, so a poll with nothing new launches no Spark job
  * (a Kafka idle fetch analog). A delivering poll launches no job of its
  * own either: the handler gets the records with `last < offset < next`
  * per partition, and only what the handler runs executes. The count needs
  * no job because `appendTxn` writes dense offsets per partition.
  *
  * A delivering poll's scan follows what it delivers, not committed
  * history: the manifest records each file's (topic, partition, first,
  * last) offset ranges, and the poll opens only the files whose ranges
  * meet a due `(last, next)` range (plus any file with no recorded
  * ranges), then filters rows. Each `appendTxn` transaction stages one
  * file of one topic in bounded row groups, so a poll one transaction
  * behind reads one file, split across cores when it is large. The
  * offset bounds are [[LongParam]]s, so every poll runs the first poll's
  * compiled code.
  */
final class KafkaShapedConsumer(
    log: KafkaShapedLog,
    topic: String,
    offsets: TopicOffsets) {

  /** One manifest read: the manifest, and for each partition of this topic
    * with unconsumed records, (partition, last consumed, next committed). */
  private def snapshot(): (KafkaShapedLog.Manifest, Seq[(Int, Long, Long)]) = {
    val m = log.manifest()
    val due = m.offsets.toSeq.collect { case ((t, p), next) if t == topic =>
      (p, offsets.offsetFor(topic, p), next)
    }.filter { case (_, last, next) => next - 1 > last }
    (m, due)
  }

  /** The records of `due` in manifest `m`, read from the files that hold
    * them. */
  private def records(m: KafkaShapedLog.Manifest, due: Seq[(Int, Long, Long)]): DataFrame =
    log.scan(topic, m.filesMeeting(topic, due)).filter(due.map { case (p, last, next) =>
      col("partition") === p && col("offset") > LongParam.col(last) &&
        col("offset") < LongParam.col(next)
    }.foldLeft(lit(false): Column)(_ || _))

  /** Committed-but-unconsumed records, per the offset store, as of one
    * manifest snapshot. */
  def pending(): DataFrame = {
    val (m, due) = snapshot()
    records(m, due)
  }

  /** Deliver pending records; offsets advance only after `handle` returns.
    * @return records delivered */
  def poll(handle: DataFrame => Unit): Long = {
    val (m, due) = snapshot()
    if (due.isEmpty) return 0L
    handle(records(m, due))
    due.foreach { case (p, _, next) => offsets.update(topic, p, next - 1) }
    due.map { case (_, last, next) => next - 1 - last }.sum
  }
}
