package graft.streaming

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles,
  SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.expressions.LongParam
import graft.store.{EventLog, EventLogSchema}

/** Structured Streaming source over [[EventLog]] topics, gated on each
  * topic's segment manifest: the offset is every topic's COMMITTED lsn, so
  * a batch never sees a file an append moved in but has not yet listed,
  * and a compaction (which keeps every lsn) re-delivers nothing. Lsns are
  * dense — each append takes exactly one — so `(start, end]` names a set
  * of whole appends, and replaying it from the checkpoint reads the same
  * rows again.
  *
  * A batch reads the manifest-listed segments of its appends (by their
  * `seg-<lsn>-…` names) plus any compacted files that may hold its lsns
  * ([[EventLog.segmentsBetween]]), filtered on lsn: cost O(new appends).
  * The lsn bounds are [[LongParam]]s, so every batch runs the first
  * batch's compiled code; being no literals, they prune no row group, so
  * the file list is what bounds a batch's scan. At most `maxAppendsPerTrigger` appends
  * per topic are admitted per trigger; `Trigger.AvailableNow` stops at the
  * lsns committed when it started. Rows carry their `topic`. */
final class EventLogSource(spark: SparkSession, logRoot: String, topics: Seq[String],
    maxAppendsPerTrigger: Int)
    extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val log = EventLog(logRoot, spark)

  /** AvailableNow's end: the lsns committed when the trigger started. */
  private var availableNowEnd: Option[EventLogOffset] = None

  override def schema: StructType = EventLogSource.schema

  private def committed(): EventLogOffset =
    EventLogOffset(topics.map(t => t -> log.currentCursor(t).lsn).toMap)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxAppendsPerTrigger)

  override def prepareForTriggerAvailableNow(): Unit = availableNowEnd = Some(committed())

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = Option(start).map(EventLogOffset(_))
    val upTo = availableNowEnd.getOrElse(committed())
    val next = EventLogOffset(topics.map { t =>
      val lo = from.fold(0L)(_.lsn(t))
      t -> (limit match {
        case m: ReadMaxFiles => math.min(upTo.lsn(t), lo + m.maxFiles)
        case _ => upTo.lsn(t)
      })
    }.toMap)
    // nothing ever committed: no offset yet, so no empty first batch
    if (from.isEmpty && next.lsns.values.forall(_ == 0L)) null else next
  }

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val (from, to) = (start.map(EventLogOffset(_)), EventLogOffset(end))
    val parts = topics.flatMap { t =>
      val (lo, hi) = (from.fold(0L)(_.lsn(t)), to.lsn(t))
      val files = if (hi > lo) log.segmentsBetween(t, lo, hi) else Nil
      if (files.isEmpty) None
      else Some(GraftPlanBridge.streamingParquet(spark, files.map(_.toString),
          EventLogSchema.schema)
        .filter(col("lsn") > LongParam.col(lo) && col("lsn") <= LongParam.col(hi))
        .withColumn("topic", lit(t)))
    }
    if (parts.isEmpty) GraftPlanBridge.emptyStream(spark, schema)
    else parts.reduce(_ union _)
  }

  override def stop(): Unit = ()
}

object EventLogSource {
  /** The event log's row schema plus the row's `topic`. */
  val schema: StructType =
    EventLogSchema.schema.add(StructField("topic", StringType, nullable = false))
}

/** Per-topic committed lsn, rendered with sorted keys: Spark compares
  * offsets by their JSON. */
final case class EventLogOffset(lsns: Map[String, Long]) extends Offset {
  def lsn(topic: String): Long = lsns.getOrElse(topic, 0L)

  override val json: String = EventLogOffset.mapper.writeValueAsString(
    new java.util.TreeMap[String, java.lang.Long](
      lsns.map { case (t, l) => t -> java.lang.Long.valueOf(l) }.asJava))
}

object EventLogOffset {
  private val mapper = new ObjectMapper()

  /** Our own offset, or its JSON form as read back from a checkpoint. */
  def apply(o: OffsetV2): EventLogOffset = o match {
    case e: EventLogOffset => e
    case other => EventLogOffset(mapper.readValue(other.json,
        new TypeReference[java.util.TreeMap[String, java.lang.Long]] {})
      .asScala.map { case (t, l) => t -> l.longValue }.toMap)
  }
}

/** Registers [[EventLogSource]] for `spark.readStream.format(<this class>)`.
  * Options: `path` (the log root), `topics` ('/'-separated — a topic is one
  * directory name, so it never contains '/'), `maxAppendsPerTrigger`. */
final class EventLogSourceProvider extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft-event-log", EventLogSource.schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new EventLogSource(sqlContext.sparkSession, parameters("path"),
      parameters("topics").split('/').toSeq,
      parameters("maxAppendsPerTrigger").toInt)
}
