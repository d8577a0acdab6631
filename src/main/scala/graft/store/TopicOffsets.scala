package graft.store

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Consumer offset store — the `events.topic_offsets` table analog
  * (/root/reference tech.kage.event.kafka.reactor/src/main/sql/events/
  * topic_offsets.sql; S10 point lookup/init/update,
  * ReactorKafkaEventStore.java:89-104, 301-359).
  *
  * Semantics preserved:
  *  - key `(topic, partition)`, value = last processed offset;
  *  - bootstrap inserts `-1` so consumers seek `offset + 1`
  *    (ReactorKafkaEventStore.java:95-98, 278);
  *  - updates are durable and atomic ([[Commit.replace]]), and the G4
  *    exactly-once pattern stores the offset file move inside the same
  *    staged-commit as the user's effects (see
  *    graft.streaming.EosProjection).
  *
  * Layout: one tiny file per (topic, partition) under the state dir —
  * driver-side metadata, never sharded data.
  */
final class TopicOffsets(dir: Path) {
  Files.createDirectories(dir)

  private def fileFor(topic: String, partition: Int): Path =
    dir.resolve(s"$topic-$partition.offset")

  /** Last processed offset; bootstraps to -1 when absent (consumer starts
    * at 0 = offset + 1). */
  def offsetFor(topic: String, partition: Int): Long = {
    val f = fileFor(topic, partition)
    if (Files.exists(f)) Files.readString(f).trim.toLong
    else { update(topic, partition, -1L); -1L }
  }

  def update(topic: String, partition: Int, offset: Long): Unit =
    Commit.replace(fileFor(topic, partition), offset.toString)

  /** All known (topic, partition) → offset rows. */
  def all(): Map[(String, Int), Long] = {
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".offset"))
      .map { p =>
        val stem = p.getFileName.toString.stripSuffix(".offset")
        val i = stem.lastIndexOf('-')
        (stem.substring(0, i), stem.substring(i + 1).toInt) -> Files.readString(p).trim.toLong
      }.toMap
    finally s.close()
  }
}

object TopicOffsets {
  def apply(dir: String): TopicOffsets = new TopicOffsets(java.nio.file.Paths.get(dir))
}
