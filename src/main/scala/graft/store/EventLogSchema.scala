package graft.store

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.model.Event

/** Wire schema of the native event log — the Spark analog of the reference's
  * per-topic Postgres event table (/root/reference
  * tech.kage.event.postgres/src/main/sql/events/events_schema.sql:1-13):
  *
  * {{{
  * id        bigint   NOT NULL   -- append order, monotone per topic
  * key       binary   NOT NULL   -- canonical key bytes (+ topic keyType tag)
  * data      binary   NOT NULL   -- Confluent-framed Avro, maybe AEAD-encrypted
  * metadata  binary   NULL       -- canonical Avro map<string,bytes>; null if empty
  * timestamp timestamp NOT NULL  -- event time, millis precision
  * lsn       bigint   NULL       -- commit sequence; all rows of one append share it
  * }}}
  *
  * `lsn` is nullable to mirror the reference's "NULL until stamped" phase
  * (LsnUpdater); the native log stamps at append commit so it is always set
  * here, but readers must keep the `lsn IS NOT NULL` guard (F1) for parity.
  */
object EventLogSchema {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("key", BinaryType, nullable = false),
    StructField("data", BinaryType, nullable = false),
    StructField("metadata", BinaryType, nullable = true),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("lsn", LongType, nullable = true)))

  /** Columns a writer provides; id/lsn are allocated by the log. */
  val appendSchema: StructType = StructType(schema.filterNot(f => f.name == "id" || f.name == "lsn"))

  /** The reference stores NULL for empty metadata
    * (PostgresEventStore.java:128-138) — preserve that mapping. */
  def appendRow(e: Event): Row = Row(
    e.key,
    e.payload,
    if (e.metadata.isEmpty) null
    else graft.codec.MetadataCodec.encode(e.metadata),
    Timestamp.from(e.timestamp))

  /** `e` as a stored row of [[schema]], stamped with its `(lsn, id)`. */
  def storedRow(e: Event, lsn: Long, id: Long): Row =
    Row.fromSeq((id +: appendRow(e).toSeq) :+ lsn)

  def toEvent(r: Row): Event = {
    val md = r.getAs[Array[Byte]]("metadata")
    new Event(
      r.getAs[Array[Byte]]("key"),
      r.getAs[Array[Byte]]("data"),
      r.getAs[Timestamp]("timestamp").toInstant,
      if (md == null) Map.empty else graft.codec.MetadataCodec.decode(md))
  }
}
